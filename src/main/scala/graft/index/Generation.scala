package graft.index

import java.nio.file.{Files, NoSuchFileException, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** One committed generation of an index dir, `manifest/gen-<n>.json`:
  * the commit point of IndexBuilder.commit and the one thing a reader
  * opens (the reference's `meta.json`, which tantivy rewrites atomically
  * on every commit and every searcher opens). It lists the batch tags
  * committed so far, in commit order, the stat row of every live
  * segment, and per row kind every live data file with its byte length
  * and the segments whose rows it holds. A file is named
  * `<batch>-<j>.parquet` (IndexBuilder.adoptStaged), so its name names
  * its batch.
  *
  * Each commit writes generation n + 1 from n plus its own batch, by a
  * temp file and an atomic rename, and then deletes all but the newest
  * two. A reader keeps the generation it opened in memory, not the
  * file, so it stays pinned to it while later commits add files beside
  * its own. */
final case class Generation(number: Long, batches: Seq[String], stats: Seq[SegStatRow],
                            files: Map[String, Seq[Generation.DataFile]]) {
  import Generation._

  def committed(tag: String): Boolean = batches.contains(tag)

  /** The live files of one row kind. */
  def filesOf(kind: String): Seq[DataFile] = files.getOrElse(kind, Nil)

  /** The generation after this one: batch `tag` adds its stat rows and
    * its adopted files. */
  def next(tag: String, added: Seq[SegStatRow], adopted: Map[String, Seq[DataFile]]): Generation =
    Generation(number + 1, batches :+ tag, stats ++ added,
      Kinds.map(k => k -> (filesOf(k) ++ adopted.getOrElse(k, Nil))).filter(_._2.nonEmpty).toMap)

  def json: String = {
    val root = mapper.createObjectNode()
    root.put("generation", number)
    val bs = root.putArray("batches")
    batches.foreach(bs.add)
    val ss = root.putArray("stats")
    stats.foreach { s =>
      ss.addObject().put("segment", s.segment).put("numDocs", s.numDocs).put("numTokens", s.numTokens)
        .put("numTerms", s.numTerms).put("numPostings", s.numPostings).put("sha256Agg", s.sha256Agg)
        .put("buildMs", s.buildMs)
    }
    val fs = root.putObject("files")
    Kinds.filter(files.contains).foreach { k =>
      val arr = fs.putArray(k)
      files(k).foreach { f =>
        val o = arr.addObject().put("name", f.name).put("bytes", f.bytes)
        val segs = o.putArray("segments")
        f.segments.foreach(segs.add(_))
      }
    }
    mapper.writeValueAsString(root)
  }

  /** Checks `dir`'s data files against this generation, on the driver:
    * each listed file must exist with its listed length, and each kind
    * dir must hold no other file, except the `<tag>-*` files of a batch
    * whose commit is in flight or crashed (its `staging/<tag>` dir, which
    * the commit deletes only after the generation, still exists) or was
    * committed after this generation. Fails naming the file, and for a
    * listed one its batch and segments. */
  def verify(dir: String): Unit = {
    def fail(what: String): Nothing =
      throw new IllegalStateException(s"index $dir, generation $number: $what")
    lazy val newer = latest(dir)
    Kinds.foreach { kind =>
      val kindDir = Paths.get(IndexBuilder.dataDir(dir), s"kind=$kind")
      val listed = filesOf(kind)
      listed.foreach { f =>
        val p = kindDir.resolve(f.name)
        val what = s"data file kind=$kind/${f.name} (batch ${f.batch}, segment(s) ${f.segments.mkString(", ")})"
        val bytes = try Files.size(p) catch { case _: NoSuchFileException => fail(s"$what is missing") }
        if (bytes != f.bytes) fail(s"$what has $bytes bytes, ${f.bytes} committed: truncated or rewritten")
      }
      val names = listed.iterator.map(_.name).toSet
      Option(kindDir.toFile.list()).getOrElse(Array.empty[String])
        .filterNot(n => names(n) || n.startsWith(".") || n.startsWith("_")).sorted.foreach { n =>
          val tag = batchOf(n)
          val pending = Files.isDirectory(Paths.get(IndexBuilder.stagingDir(dir), tag)) ||
            newer.filesOf(kind).exists(_.name == n)
          if (!pending) fail(s"data file kind=$kind/$n is in no committed generation and " +
            s"no commit of batch $tag is in flight")
        }
    }
  }

  /** The fixed file list of one kind's table, for its reader. */
  private[index] def fileIndex(dir: String, kind: String): FileIndex = {
    val root = new HPath(Paths.get(IndexBuilder.dataDir(dir), s"kind=$kind").toAbsolutePath.toUri)
    new FixedFiles(root, filesOf(kind).map(f => new FileStatus(f.bytes, false, 1, f.bytes, 0L,
      new HPath(root, f.name))).toArray)
  }
}

object Generation {
  /** The row kinds an index writes, one table each. */
  val Kinds: Seq[String] = Seq("doc", "fnorm", "posting", "stat")

  /** A live data file: its name under `kind=<kind>`, its byte length
    * and the segments whose rows it holds. */
  final case class DataFile(name: String, bytes: Long, segments: Seq[Int]) {
    def batch: String = batchOf(name)
  }

  /** The batch tag of an adopted file name `<tag>-<j>.parquet`. */
  private[index] def batchOf(name: String): String =
    name.substring(0, math.max(name.lastIndexOf('-'), 0))

  /** The generation before the first commit. */
  val Empty: Generation = Generation(0L, Nil, Nil, Map.empty)

  private val mapper = new ObjectMapper()
  private val FileName = """gen-(\d+)\.json""".r

  /** Where generation `n` of `dir` lives. */
  def file(dir: String, n: Long): Path = Paths.get(IndexBuilder.manifestDir(dir), s"gen-$n.json")

  /** The generation numbers `dir` holds, newest first. */
  private[index] def numbers(dir: String): Seq[Long] =
    Option(new java.io.File(IndexBuilder.manifestDir(dir)).list()).getOrElse(Array.empty[String])
      .toSeq.collect { case FileName(n) => n.toLong }.sorted.reverse

  /** The newest generation of `dir`, read once on the driver; Empty when
    * nothing was committed. A generation that a later commit pruned
    * between the listing and the read is looked up again. */
  def latest(dir: String): Generation = {
    numbers(dir).headOption.fold(Empty) { n =>
      try parse(Files.readString(file(dir, n)))
      catch { case _: NoSuchFileException => latest(dir) }
    }
  }

  /** The newest generation of `dir`, checked against its files (see
    * `verify`): what a reader opens. Fails when nothing was committed. */
  def open(dir: String): Generation = {
    val g = latest(dir)
    if (g.number == 0) throw new IllegalStateException(
      s"index $dir has no committed generation (no ${IndexBuilder.manifestDir(dir)}/gen-<n>.json)")
    g.verify(dir)
    g
  }

  def parse(json: String): Generation = {
    val root = mapper.readTree(json)
    def seq(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
    Generation(root.get("generation").asLong(),
      seq(root.get("batches")).map(_.asText()),
      seq(root.get("stats")).map { s =>
        SegStatRow(s.get("segment").asInt(), s.get("numDocs").asLong(), s.get("numTokens").asLong(),
          s.get("numTerms").asLong(), s.get("numPostings").asLong(), s.get("sha256Agg").asText(),
          s.get("buildMs").asLong())
      },
      root.get("files").properties().asScala.map { e =>
        e.getKey -> seq(e.getValue).map(f =>
          DataFile(f.get("name").asText(), f.get("bytes").asLong(), seq(f.get("segments")).map(_.asInt())))
      }.toMap)
  }

  /** A table's files as its generation lists them: Spark plans the scan
    * from this list and never lists the directory. */
  private final class FixedFiles(root: HPath, statuses: Array[FileStatus]) extends FileIndex {
    def rootPaths: Seq[HPath] = Seq(root)
    def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, statuses))
    def inputFiles: Array[String] = statuses.map(_.getPath.toString)
    def refresh(): Unit = ()
    def sizeInBytes: Long = statuses.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
  }
}
