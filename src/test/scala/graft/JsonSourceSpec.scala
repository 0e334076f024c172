package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{ManifestStore, Tables}

class JsonSourceSpec extends AnyFunSuite with SparkFixture {

  /** The current snapshot dir of the fixture export rooted at `target/<rel>`. */
  private def snapOf(rel: String): File = {
    val root = new File(s"${sys.props("user.dir")}/target/$rel")
    val (id, _) = ManifestStore.currentPointer(root)
      .getOrElse(fail(s"no manifest pointer under $root"))
    ManifestStore.snapDir(root, id)
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  test("permissive read captures malformed lines instead of throwing") {
    val dir = new File(sys.props("java.io.tmpdir"), "graft_json_spec")
    graft.sources.Staging.deleteRecursively(dir)
    dir.mkdirs()
    Files.write(new File(dir, "part-0.json").toPath,
      """{"id": 1, "name": "alpha"}
        |{"id": 2 "name": "missing-comma"}
        |{"id": 3, "name": "gamma"}
        |""".stripMargin.getBytes)
    // Spark refuses plans whose column set is ONLY _corrupt_record (a
    // count() after a corrupt filter prunes to exactly that) — collect the
    // full rows once and assert driver-side, the way a real ingest's
    // accounting would aggregate alongside data columns
    val rows = Tables.jsonSource(spark, dir.getAbsolutePath, schema).collect()
    assert(rows.length === 3)
    val (bad, good) = rows.partition(r => !r.isNullAt(r.fieldIndex("_corrupt_record")))
    assert(bad.length === 1 && good.length === 2)
    // the malformed line parses to all-null data columns + the raw text
    assert(bad.head.isNullAt(bad.head.fieldIndex("id")) &&
      bad.head.isNullAt(bad.head.fieldIndex("name")))
    assert(bad.head.getString(bad.head.fieldIndex("_corrupt_record"))
      .contains("missing-comma"))
  }

  test("supplierOrc round-trips the dim bit-exactly, typed, and the stamp guard never re-stages") {
    val viaOrc = Tables.supplierOrc(spark, sf001)
    // ORC preserves the full type lattice — schema identical to parquet
    assert(viaOrc.schema === Tables.supplier(spark, sf001).schema)
    val a = viaOrc.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
    val b = Tables.supplier(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
    assert(a === b) // doubles compared exactly: the roundtrip is bit-level
    // second call must be a pure read: the staged file's mtime is stable
    val dir = snapOf("orcdim/sf0.001/supplier")
    val orc = dir.listFiles().filter(_.getName.endsWith(".orc")).head
    val mtime = orc.lastModified()
    Tables.supplierOrc(spark, sf001).count()
    assert(orc.lastModified() === mtime, "stamp-guarded staging re-wrote the ORC export")
  }

  test("binaryAssets: file-per-row binaryFile scan round-trips bytes exactly, stamp-guarded") {
    val assets = graft.operators.Multimodal.os2BinaryAssets(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(assets.length === 50)
    // byte-exact: the scanned file content hashes to the source text's md5
    val want = Tables.documents(spark, sf001).filter(col("doc_id") < 50)
      .select(col("doc_id"), length(col("text").cast("binary")).cast("long"),
        md5(col("text")))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(assets.toSeq === want.toSeq)
    // second call must be a pure read (the stamp guard holds)
    val dir = snapOf("binassets/sf0.001/docs")
    val f = dir.listFiles().filter(_.getName.endsWith(".bin")).head
    val mtime = f.lastModified()
    Tables.binaryAssets(spark, sf001).count()
    assert(f.lastModified() === mtime, "stamp-guarded staging re-wrote the assets")
  }

  test("binaryAssets: a frame read before a republish still scans its own snapshot") {
    val pinned = Tables.binaryAssets(spark, sf001)
    // a different count publishes a new snapshot; the pinned frame's
    // listing points into the previous one, which GC retains
    assert(Tables.binaryAssets(spark, sf001, nAssets = 40).count() === 40)
    assert(pinned.count() === 50, "republish deleted files under a pinned reader")
    assert(Tables.binaryAssets(spark, sf001).count() === 50)
  }

  test("documentsJsonGz: gzip JSONL round-trips byte-exactly through the codec layer, stamp-guarded") {
    val got = graft.operators.Params.os3GzipJsonl(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val want = Tables.documents(spark, sf001).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("lang"), col("source"), md5(col("text")))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.toSeq === want.toSeq)
    // the staged file is genuinely gzip (magic 1f 8b), and the guard holds
    val dir = snapOf("gzdocs/sf0.001/documents")
    val gz = dir.listFiles().filter(_.getName.endsWith(".json.gz")).head
    val head = java.nio.file.Files.readAllBytes(gz.toPath).take(2)
    assert((head(0) & 0xFF) === 0x1F && (head(1) & 0xFF) === 0x8B)
    val mtime = gz.lastModified()
    // a bare count() prunes the scan to the internal corrupt-record
    // column, which the JSON reader disallows as the ONLY referenced
    // column — touch a data column instead
    Tables.documentsJsonGz(spark, sf001).agg(max(col("doc_id"))).head
    assert(gz.lastModified() === mtime, "stamp-guarded staging re-wrote the export")
  }

  test("nationJson round-trips the dim through the JSON contract") {
    val viaJson = Tables.nationJson(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val direct = Tables.nation(spark, sf001)
      .select(col("n_nationkey").cast("int"), col("n_name"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(viaJson === direct)
  }
}
