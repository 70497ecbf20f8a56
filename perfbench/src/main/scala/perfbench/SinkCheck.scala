package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** Reads the vector sink the way any parquet reader could — the manifest
  * pointer, the manifest's (root, namespace, bucket) lines, the leaf parquet
  * files under them — without the program's own reader, and checks what it
  * holds. */
object SinkCheck {

  final case class Vec(id: String, source: String, text: String, emb: Array[Float])

  /** Name of the manifest the pointer names (the sink's snapshot id). */
  def pointer(sinkDir: String): String =
    java.nio.file.Files.readString(new File(sinkDir, "vectors_manifest.current").toPath).trim

  /** The live leaf parquet files, with their sizes, sorted by path. */
  def liveFiles(sinkDir: String): Seq[(String, Long)] = {
    val src = scala.io.Source.fromFile(new File(sinkDir, pointer(sinkDir)), "UTF-8")
    val entries = try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).toVector finally src.close()
    def leaves(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(leaves)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    entries.flatMap { l =>
      val Array(root, ns, b) = l.split("\t", 3)
      leaves(new File(s"$sinkDir/$root/namespace=$ns/bucket=$b"))
    }.map(f => f.getPath -> f.length()).sorted
  }

  def readAll(spark: SparkSession, sinkDir: String): Seq[Vec] = {
    val files = liveFiles(sinkDir).map(_._1)
    if (files.isEmpty) Nil
    else spark.read.parquet(files: _*).select("id", "source", "text", "embedding").collect().toSeq.map { r =>
      Vec(r.getString(0), r.getString(1), r.getString(2),
        Option(r.getSeq[Float](3)).map(_.toArray).orNull)
    }
  }

  /** Ids unique; every vector 384-dimensional with unit norm. */
  def checkVectors(vs: Seq[Vec], checks: Checks, where: String): Unit = {
    val dupes = vs.groupBy(_.id).collect { case (id, g) if g.size > 1 => id }
    checks.require(dupes.isEmpty, s"$where: ${dupes.size} duplicate vector ids, e.g. ${dupes.take(3).mkString(", ")}")
    val bad = vs.filter { v =>
      v.emb == null || v.emb.length != 384 || math.abs(math.sqrt(v.emb.map(x => x.toDouble * x).sum) - 1.0) > 1e-4
    }
    checks.require(bad.isEmpty, s"$where: ${bad.size} vectors are not 384-dim unit vectors, e.g. ${bad.take(3).map(_.id).mkString(", ")}")
  }

  private val mapper = new ObjectMapper()

  /** The JSON documents a chunk text joins (space-separated objects). */
  def docs(text: String): Seq[JsonNode] = {
    val it = mapper.readerFor(classOf[JsonNode]).readValues[JsonNode](text)
    val out = mutable.ArrayBuffer[JsonNode]()
    while (it.hasNext) out += it.next()
    out.toSeq
  }

  /** Parsing every chunk text back into rows gives each ledger row version
    * exactly once, with the generator's values, and nothing else. */
  def checkLedger(vs: Seq[Vec], ledger: Ledger, checks: Checks, where: String): Unit = {
    val seen = mutable.Map[(String, Long, String), Int]().withDefaultValue(0)
    val wrong = mutable.ArrayBuffer[String]()
    val expected = ledger.versions.map(v => v.key -> v).toMap
    vs.foreach { v =>
      val parsed = try docs(v.text) catch { case e: Exception => wrong += s"${v.id}: unparsable chunk (${e.getMessage})"; Nil }
      parsed.foreach { d =>
        // JDBC catalogs fold column names upper case; a parquet lake keeps them
        def f(name: String) = if (d.has(name)) d.path(name) else d.path(name.toLowerCase)
        val key = (v.source, f("ID").asLong(), f("TS").asText())
        seen(key) += 1
        expected.get(key) match {
          case None => wrong += s"unexpected row $key"
          case Some(e) =>
            val note = if (f("NOTE").isNull) null else f("NOTE").asText()
            if (f("NAME").asText() != e.name || f("QTY").asInt() != e.qty ||
                f("AMOUNT").asDouble() != e.amount.doubleValue() || note != e.note)
              wrong += s"row $key: values differ: $d"
        }
      }
    }
    val missing = expected.keys.filterNot(seen.contains)
    val twice = seen.collect { case (k, n) if n > 1 => k }
    checks.require(wrong.isEmpty, s"$where: ${wrong.size} sink rows disagree with the ledger, e.g. ${wrong.take(3).mkString("; ")}")
    checks.require(missing.isEmpty, s"$where: ${missing.size} ledger row versions missing from the sink, e.g. ${missing.take(3).mkString(", ")}")
    checks.require(twice.isEmpty, s"$where: ${twice.size} row versions appear more than once, e.g. ${twice.take(3).mkString(", ")}")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }

  /** Bytes under a directory tree. */
  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum else f.length()

  def rootDirs(sinkDir: String): Set[String] =
    Option(new File(sinkDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("vectors")).map(_.getName).toSet
}
