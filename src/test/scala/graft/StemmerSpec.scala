package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Stemmers
import graft.index._

/** Multi-language Snowball stemmers + per-doc-language dispatch.
  * Vectors are hand-checked common forms (plural/verb conflation) —
  * the property that matters for retrieval is CONFLATION: inflected
  * forms of one lemma map to one stem, distinct lemmas stay apart. */
class StemmerSpec extends AnyFunSuite {

  test("german: plural/case/verb conflation") {
    import Stemmers.german
    assert(german("häuser") == "haus")
    assert(german("bücher") == german("buch"))
    assert(german("katzen") == "katz")
    assert(german("laufen") == "lauf")
    assert(german("kindern") == german("kinder"))
    assert(german("aufgabe") == german("aufgaben"))
    // ß normalization
    assert(german("straße") == german("strasse"))
    // distinct lemmas stay apart
    assert(german("haus") != german("maus"))
  }

  test("french: verb/plural conflation") {
    import Stemmers.french
    assert(french("chanteraient") == "chant")
    assert(french("chanter") == "chant")
    assert(french("chantées") == "chant")
    assert(french("mangées") == french("manger"))
    assert(french("tables") != french("chaises"))
  }

  test("spanish: verb/plural conflation") {
    import Stemmers.spanish
    assert(spanish("corriendo") == "corr")
    assert(spanish("cantaban") == "cant")
    assert(spanish("cantar") == "cant")
    assert(spanish("niños") == "niñ")
    assert(spanish("casas") == spanish("casa"))
  }

  test("russian: noun/adjective/verb conflation") {
    import Stemmers.russian
    assert(russian("книгами") == "книг")     // noun instrumental pl
    assert(russian("книги") == russian("книга"))
    assert(russian("столами") == "стол")
    assert(russian("столы") == russian("стол"))
    assert(russian("красивые") == russian("красивый")) // adjective
    assert(russian("читала") == russian("читать"))     // verb forms
    assert(russian("читают") == "чита")
    assert(russian("слабости") == russian("слабость"))
    assert(russian("быстрейший") == "быстр")            // superlative
    assert(russian("ёлка") == russian("елка"))          // ё -> е
    assert(russian("стол") != russian("книга"))
  }

  test("portuguese: plural/verb/derivational conflation") {
    import Stemmers.portuguese
    assert(portuguese("meninas") == "menin")
    assert(portuguese("menina") == portuguese("meninos"))
    assert(portuguese("livros") == portuguese("livro"))
    assert(portuguese("cantando") == "cant")
    assert(portuguese("cantar") == portuguese("cantou"))
    assert(portuguese("nacionalidade") == "nacional")
    assert(portuguese("rapidamente") == "rapid")
    assert(portuguese("livro") != portuguese("menino"))
  }

  test("italian: plural/verb/derivational conflation") {
    import Stemmers.italian
    assert(italian("cantare") == "cant")
    assert(italian("cantando") == italian("cantavano"))
    assert(italian("ragazzi") == italian("ragazzo"))
    assert(italian("ragazza") == italian("ragazze"))
    assert(italian("nazionale") == italian("nazionali"))
    assert(italian("felicità") == "felic")
    assert(italian("abilità") == "abil")
    assert(italian("ragazzo") != italian("canzone"))
  }

  test("dutch: plural/diminutive-free conflation + undoubling") {
    import Stemmers.dutch
    assert(dutch("katten") == "kat")        // kk/tt undouble
    assert(dutch("katten") == dutch("kat"))
    assert(dutch("boeken") == dutch("boek"))
    assert(dutch("bomen") == dutch("boom")) // double-vowel undouble
    assert(dutch("lopen") == "lop")
    assert(dutch("mogelijkheden") == dutch("mogelijkheid"))
    assert(dutch("vrijheden") == dutch("vrijheid")) // heden -> heid
    assert(dutch("boek") != dutch("kat"))
  }

  test("dispatch: language codes, names, fallback to English") {
    assert(Stemmers.forLanguage("de")("häuser") == "haus")
    assert(Stemmers.forLanguage("german")("häuser") == "haus")
    assert(Stemmers.forLanguage("es")("corriendo") == "corr")
    // programming languages (the code corpus's `lang`) fall back to
    // Porter English — the pre-dispatch behavior, so existing indexes
    // and golden fixtures are unchanged
    assert(Stemmers.forLanguage("rust")("running") ==
      graft.core.PorterStemmer.stem("running"))
    assert(Stemmers.forLanguage(null)("running") ==
      graft.core.PorterStemmer.stem("running"))
  }

  test("stemmers never panic and always shrink-or-keep") {
    val rnd = new scala.util.Random(17)
    val fns = Seq(Stemmers.german _, Stemmers.french _, Stemmers.spanish _,
      Stemmers.russian _, Stemmers.portuguese _, Stemmers.italian _,
      Stemmers.dutch _, Stemmers.swedish _, Stemmers.danish _,
      Stemmers.romanian _)
    (0 until 2000).foreach { _ =>
      val s = rnd.nextString(rnd.nextInt(24))
      fns.foreach { f =>
        val out = f(s)
        assert(out != null)
      }
    }
    // real-ish tokens shrink or stay
    Seq("häuser", "chanteraient", "corriendo", "straßenbahn", "книгами",
      "meninas", "cantavano", "mogelijkheden").foreach { wrd =>
      fns.foreach(f => assert(f(wrd).length <= wrd.length + 1))
    }
  }

  test("swedish: plural/definite conflation") {
    import Stemmers.swedish
    assert(swedish("klockorna") == "klock")      // def. plural -orna
    assert(swedish("jaktkarlarne") == "jaktkarl") // archaic def. pl. -arne
    assert(swedish("väninnor") == "vänin")       // -or, then nn undouble
    assert(swedish("stackars") == "stackar")     // s after valid s-ending
    assert(swedish("betydelse") == "betyd")      // -e then -els
    assert(swedish("verkligt") == "verk")        // gt -> g, then -lig
    assert(swedish("underfullt") == "underfull") // -fullt keeps full
    assert(swedish("klockorna") == swedish("klockor"))
    assert(swedish("klocka") != swedish("bok"))
  }

  test("danish: plural/definite conflation with undouble") {
    import Stemmers.danish
    assert(danish("indtagelse") == "indtag")     // -e then -els
    assert(danish("undersøgelse") == "undersøg")
    assert(danish("hallen") == "hal")            // -en then ll undouble
    assert(danish("vigtigst") == "vigt")         // igst -> ig -> delete
    assert(danish("åbnes") == danish("åbnet"))   // -es / -et conflate
    assert(danish("hedens") == "hed")            // -ens inside R1
    assert(danish("huset") != danish("musene"))
  }

  test("romanian: article/plural/verb conflation") {
    import Stemmers.romanian
    assert(romanian("lucrează") == "lucr")        // verb 3sg -ează
    assert(romanian("lucrăm") == "lucr")          // verb 1pl -ăm
    assert(romanian("cartea") == romanian("carte")) // def. article -ea
    assert(romanian("copiilor") == romanian("copii")) // gen/dat pl
    assert(romanian("abilitate") == "abil")       // step-2 itate
    assert(romanian("contabilitate") == "contabil") // step-1 abilitate
    assert(romanian("jucătorii") == romanian("jucător")) // agent noun
    assert(romanian("carte") != romanian("munte"))
  }

  test("finnish: case/particle/possessive conflation") {
    import Stemmers.finnish
    // one noun through seven cases lands on one stem
    assert(finnish("kirja") == "kirj")
    assert(Seq("kirjan", "kirjat", "kirjassa", "kirjasta", "kirjaan",
      "kirjalla").map(finnish).toSet == Set("kirj"))
    assert(Seq("talo", "talot", "talossa", "talosta", "taloon",
      "taloissa").map(finnish).toSet == Set("talo"))
    assert(finnish("talokin") == "talo")          // -kin particle
    assert(finnish("ystäväni") == finnish("ystävä")) // possessive -ni
    assert(finnish("sanoja") == finnish("sanoiksi")) // partitive/translative pl
    assert(finnish("kirja") != finnish("talo"))
  }

  test("hungarian: case/possessive/plural conflation") {
    import Stemmers.hungarian
    assert(hungarian("ház") == "ház")
    assert(Seq("házban", "házak", "házakban", "háznak", "házat", "háza",
      "házam").map(hungarian).toSet == Set("ház"))
    assert(Seq("könyvek", "könyvet", "könyvben", "könyveim")
      .map(hungarian).toSet == Set("könyv"))
    assert(hungarian("baráttal") == hungarian("barát")) // instrumental undouble
    assert(hungarian("kutyák") == hungarian("kutya"))
    assert(hungarian("városban") == "város")
    assert(hungarian("ház") != hungarian("könyv"))
  }

  test("turkish: harmony-checked suffix chain + final devoicing") {
    import Stemmers.turkish
    assert(turkish("kitap") == "kitap")
    // kitabı: accusative triggers p->b mutation; the de-voicing
    // post-process folds the stem back to the citation form
    assert(Seq("kitaplar", "kitabı", "kitapları", "kitaplarda")
      .map(turkish).toSet == Set("kitap"))
    assert(Seq("evler", "evlerden", "evde", "evim").map(turkish).toSet == Set("ev"))
    assert(Seq("okullar", "okullarda", "okullarımız").map(turkish).toSet == Set("okul"))
    assert(turkish("arabam") == turkish("arabalar")) // vowel-final stem + -m
    assert(turkish("ağacı") == turkish("ağaç"))      // ç/c mutation
    assert(turkish("gözlerin") == "göz")
    // harmony blocks a front suffix on a back stem: "okuler" is not a
    // valid segmentation, so a hypothetical form keeps its tail
    assert(turkish("kitap") != turkish("ev"))
  }

  test("greek: deaccent + case/verb conflation") {
    import Stemmers.greek
    assert(Seq("καλός", "καλή", "καλό", "καλοί", "καλές")
      .map(greek).toSet == Set("καλ"))
    assert(Seq("βιβλίο", "βιβλία", "βιβλίου", "βιβλίων")
      .map(greek).toSet == Set("βιβλι"))
    assert(greek("θάλασσες") == greek("θάλασσα"))
    assert(Seq("άνθρωπος", "άνθρωποι", "ανθρώπων")
      .map(greek).toSet == Set("ανθρωπ"))
    assert(Seq("παίζει", "παίζουν", "παίζουμε").map(greek).toSet == Set("παιζ"))
    assert(greek("καλός") != greek("βιβλίο"))
  }

  test("arabic: normalization + affix stripping") {
    import Stemmers.arabic
    assert(Seq("كتاب", "الكتاب", "كتابها", "كتابهم", "والكتاب")
      .map(arabic).toSet == Set("كتاب"))
    // sound masculine plural + nisba/feminine
    assert(Seq("مدرس", "المدرسون", "المدرسين", "مدرسة", "المدرسة")
      .map(arabic).toSet == Set("مدرس"))
    assert(arabic("المكتبات") == arabic("مكتبة"))
    assert(arabic("الطالبات") == arabic("طالب"))
    // diacritics normalize away
    assert(arabic("كِتَاب") == arabic("كتاب"))
    assert(arabic("كتاب") != arabic("مدرس"))
  }

  test("tamil: plural sandhi + case with pulli restoration") {
    import Stemmers.tamil
    assert(tamil("மரங்கள்") == tamil("மரம்"))      // ம்/ங் sandhi plural
    assert(tamil("புத்தகங்கள்") == tamil("புத்தகம்"))
    assert(tamil("வீடுகள்") == tamil("வீடு"))       // plain plural
    assert(Seq("பள்ளிகள்", "பள்ளியில்").map(tamil).toSet == Set("பள்ளி"))
    // accusative/comitative re-attach the pulli the vowel sign replaced
    assert(tamil("அவனை") == tamil("அவன்"))
    assert(tamil("அவனுடன்") == tamil("அவன்"))
    assert(tamil("பாடுகிறேன்") == tamil("பாடுகிறான்"))
    assert(tamil("மரம்") != tamil("வீடு"))
  }

  test("dispatch: all 16 reference languages route off the Porter fallback") {
    // reference text_field.rs:296-311 dispatches these 15 + English
    val langs = Seq("de", "fr", "es", "ru", "pt", "it", "nl", "sv", "da",
      "ro", "fi", "hu", "tr", "el", "ar", "ta")
    assert(Stemmers.SupportedLanguages.toSet == (langs.toSet + "en"))
    // each language's stemmer differs from the Porter fallback on some
    // common word of that language (i.e. the dispatch is real)
    val witness = Map(
      "fi" -> "kirjassa", "hu" -> "házban", "tr" -> "kitaplar",
      "el" -> "καλός", "ar" -> "الكتاب", "ta" -> "மரங்கள்")
    witness.foreach { case (lang, word) =>
      assert(Stemmers.forLanguage(lang)(word) != graft.core.PorterStemmer.stem(word),
        s"$lang dispatch is a Porter no-op on $word")
    }
  }

  test("index integration: German docs recall inflected forms via de query stemming") {
    val spark: SparkSession = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      SourceDoc("r1", "a.md", "c", "de", "die häuser sind groß und alt"),
      SourceDoc("r2", "b.md", "c", "de", "ein kleines haus am see"),
      SourceDoc("r3", "c.md", "c", "de", "gänzlich anderes thema hier völlig"))
    val dir = TestDirs("graftde")
    IndexBuilder.build(spark, spark.createDataset(docs), dir,
      IndexBuilder.Config(numSegments = 1, indexStemmed = true))
    val idx = new InvertedIndex(spark, dir, queryLang = "de")
    // "haus" stems to "haus"; doc token "häuser" stems to "haus" at
    // build time -> the stemmed field connects them
    val hits = idx.search("haus", 10, "or+")
    val repos = hits.map(_.repo).toSet
    assert(repos == Set("r1", "r2"), repos.toString)
    // control: an English-stemmed query (Porter: "haus" -> "hau") can't
    // reach the German-stemmed field — only the literal content match
    // survives. This asymmetry is exactly why per-language dispatch
    // matters for a multilingual corpus.
    val idxEn = new InvertedIndex(spark, dir, queryLang = "en")
    assert(idxEn.search("haus", 10, "or+").map(_.repo).toSet == Set("r2"))
  }
}
