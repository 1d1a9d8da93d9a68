package graft.tables

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the on-disk format of the version log and every table-metadata
  * file: each input is a literal record as the writers emit it, written
  * under a table root and read back through the public accessors; where
  * a writer can produce the record, it must reproduce the same bytes, so
  * tables written by older code read unchanged. */
class MetaFormatSpec extends SparkSpec {
  import spark.implicits._
  import VersionedTable.{BucketSpec, LogEntry, PreparedCommit}

  private def put(root: String, rel: String, text: String): Path = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }
  private def bytes(root: String, rel: String): String =
    Files.readString(Paths.get(root, rel))

  private val plain =
    """{"version":0,"tsMillis":1700000000000,"action":"append","fileSets":["f0"]}"""
  private val full =
    """{"version":1,"tsMillis":1700000000001,"action":"merge",""" +
      """"fileSets":["f0","c1.s0a1b2c3d.b00001"],"dvs":["dv-1","dv-2"],""" +
      """"cdf":"c-9","txnApp":"ingest-job","txnVersion":4}"""
  private val noSets =
    """{"version":2,"tsMillis":1700000000002,"action":"compact","fileSets":[]}"""

  test("log entries and checkpoints read back and re-render byte-for-byte") {
    val expected = Seq(
      LogEntry(0L, 1700000000000L, "append", Seq("f0")),
      LogEntry(1L, 1700000000001L, "merge", Seq("f0", "c1.s0a1b2c3d.b00001"),
        Some(("ingest-job", 4L)), Seq("dv-1", "dv-2"), Some("c-9")),
      LogEntry(2L, 1700000000002L, "compact", Nil))
    val t = VersionedTable(spark, tmpDir("fmt-log-"))
    Seq(plain, full, noSets).zipWithIndex.foreach { case (line, v) =>
      put(t.root, f"_log/$v%020d.json", line)
    }
    assert(t.history === expected)
    assert(expected.map(_.toJson) === Seq(plain, full, noSets))
    t.checkpointLog()
    val checkpoint = s"$plain\n$full\n$noSets\n"
    assert(bytes(t.root, f"_log/${2}%020d.checkpoint") === checkpoint)

    // a checkpoint plus a post-checkpoint tail entry
    val c = VersionedTable(spark, tmpDir("fmt-cp-"))
    put(c.root, f"_log/${1}%020d.checkpoint", s"$plain\n$full\n")
    put(c.root, f"_log/${2}%020d.json", noSets)
    assert(c.history === expected)
    assert(c.lastTxnVersion("ingest-job") === Some(4L))
  }

  test("bucket specs with and without partitionKeys") {
    val withParts = """{"keys":["id"],"numBuckets":4,"partitionKeys":["d"]}"""
    val flat = """{"keys":["id","k2"],"numBuckets":16,"partitionKeys":[]}"""
    val legacy = """{"keys":["id","k2"],"numBuckets":16}"""
    for ((text, spec) <- Seq(
        withParts -> BucketSpec(Seq("id"), 4, Seq("d")),
        flat -> BucketSpec(Seq("id", "k2"), 16),
        legacy -> BucketSpec(Seq("id", "k2"), 16))) {
      val t = VersionedTable(spark, tmpDir("fmt-spec-"))
      put(t.root, "_bucketspec.json", text)
      assert(t.bucketSpec === Some(spec))
    }
    assert(BucketSpec(Seq("id"), 4, Seq("d")).toJson === withParts)
    assert(BucketSpec(Seq("id", "k2"), 16).toJson === flat)
    // the merge that buckets a table writes the same record
    val m = VersionedTable(spark, tmpDir("fmt-spec-merge-"))
    m.merge(Seq((1, "a")).toDF("id", "v"), Seq("id"), numBuckets = 4)
    assert(bytes(m.root, "_bucketspec.json") ===
      """{"keys":["id"],"numBuckets":4,"partitionKeys":[]}""")
  }

  test("checks, keys, properties, generated columns and defaults") {
    val t = VersionedTable(spark, tmpDir("fmt-named-"))
    val checks =
      """{"checks":[{"name":"pos","expr":"v > 0"},""" +
        """{"name":"k_set","expr":"k IS NOT NULL AND k <> ''"}]}"""
    val keys =
      """{"keys":[{"name":"pk","expr":"PRIMARY KEY (k) RELY"}]}"""
    val props =
      """{"properties":[{"name":"a.note","expr":"x, y; z"},""" +
        """{"name":"graft.appendOnly","expr":"false"}]}"""
    val generated =
      """{"generated":[{"name":"m","expr":"month(ts)"}]}"""
    val defaults = """{"defaults":[{"name":"v","expr":"0"}]}"""
    put(t.root, "_checks.json", checks)
    put(t.root, "_keys.json", keys)
    put(t.root, "_props.json", props)
    put(t.root, "_generated.json", generated)
    put(t.root, "_defaults.json", defaults)
    assert(t.checks === Seq(("pos", "v > 0"), ("k_set", "k IS NOT NULL AND k <> ''")))
    assert(t.primaryKey === Some(("pk", Seq("k"), true)))
    assert(t.properties ===
      Map("a.note" -> "x, y; z", "graft.appendOnly" -> "false"))
    assert(t.generatedColumns === Seq(("m", "month(ts)")))
    assert(t.defaultColumns === Seq(("v", "0")))
    // a no-op rewrite of each writable registry reproduces its bytes
    t.dropCheck("absent")
    t.setProperties(Map.empty)
    t.dropDefault("absent")
    assert(bytes(t.root, "_checks.json") === checks)
    assert(bytes(t.root, "_props.json") === props)
    assert(bytes(t.root, "_defaults.json") === defaults)
  }

  test("identity declarations and the identity high-water mark") {
    val identity = """{"identity":[{"name":"id","start":1,"step":1},""" +
      """{"name":"seq","start":-5,"step":-2}]}"""
    val r = VersionedTable(spark, tmpDir("fmt-identity-"))
    put(r.root, "_identity.json", identity)
    assert(r.identityColumns === Seq(("id", 1L, 1L), ("seq", -5L, -2L)))
    val w = VersionedTable(spark, tmpDir("fmt-identity-w-"))
    w.declareIdentity("id")
    w.declareIdentity("seq", start = -5L, step = -2L)
    assert(bytes(w.root, "_identity.json") === identity)
    // a recorded high-water mark is where the next write's range starts,
    // and the reservation rewrites it in the same line format
    put(w.root, "_identity_hwm", "{\"name\":\"id\",\"next\":11}\n" +
      "{\"name\":\"seq\",\"next\":-9}")
    w.append(Seq("a", "b").toDF("v"))
    assert(w.read.select("id", "seq").as[(Long, Long)].collect().toSet ===
      Set((11L, -9L), (12L, -11L)))
    assert(bytes(w.root, "_identity_hwm") ===
      "{\"name\":\"id\",\"next\":13}\n{\"name\":\"seq\",\"next\":-13}")
  }

  test("partition layout, column mapping, tags and pins") {
    val layout = """{"partitionBy":["season","gw"]}"""
    val colmap = "{\"v\":1,\"from\":\"a\",\"to\":\"b\"}\n{\"v\":2,\"drop\":\"c\"}\n"
    val tags = "{\"name\":\"rel-1\",\"v\":0}\n{\"name\":\"rel.2\",\"v\":2}"
    val pin = """{"name":"mv:/w/gold/x","v":2,"ts":1700000000000}"""

    val r = VersionedTable(spark, tmpDir("fmt-meta-"))
    put(r.root, "_layout.json", layout)
    put(r.root, "_colmap.json", colmap)
    put(r.root, "_tags.json", tags)
    put(r.root, "_pins/0123456789abcdef0123456789abcdef01234567.json", pin)
    assert(r.partitionLayout === Seq("season", "gw"))
    assert(r.columnRenames === Seq((1L, "a", "b")))
    assert(r.columnDrops === Seq((2L, "c")))
    assert(r.tags === Map("rel-1" -> 0L, "rel.2" -> 2L))
    assert(r.pinsDetail === Map("mv:/w/gold/x" -> ((2L, 1700000000000L))))

    // the writers emit the same records
    val w = VersionedTable(spark, tmpDir("fmt-meta-w-"))
    w.declarePartitionLayout(Seq("season", "gw"))
    assert(bytes(w.root, "_layout.json") === layout)
    val t = VersionedTable(spark, tmpDir("fmt-meta-t-"))
    t.append(Seq((1, 2, 3)).toDF("a", "c", "x"))
    t.renameColumn("a", "b")
    t.dropColumn("c")
    assert(bytes(t.root, "_colmap.json") === colmap)
    t.createTag("rel.2", Some(2L))
    t.createTag("rel-1", Some(0L))
    assert(bytes(t.root, "_tags.json") === tags)
    t.setPinAt("mv:/w/gold/x", 2L, 1700000000000L)
    val pins = Files.list(Paths.get(t.root, "_pins")).iterator().asScala.toList
    assert(pins.map(Files.readString) === Seq(pin))
  }

  test("records older writers stored with raw backslashes read back as written") {
    // those writers never escaped and their readers took every backslash
    // literally: `\'` is no JSON escape, and JSON would read `\\d` as `\d`
    val checks = """{"checks":[{"name":"s_ok","expr":"s <> 'it\'s  x'"},""" +
      """{"name":"digits","expr":"d RLIKE '^\\d+$'"}]}"""
    val props = """{"properties":[{"name":"graft.mv.where",""" +
      """"expr":"d RLIKE '^\\d'"},{"name":"note","expr":"C:\temp\new"}]}"""
    val t = VersionedTable(spark, tmpDir("fmt-raw-"))
    put(t.root, "_checks.json", checks)
    put(t.root, "_props.json", props)
    put(t.root, f"_log/${0}%020d.json", """{"version":0,"tsMillis":1,""" +
      """"action":"append","fileSets":[],"txnApp":"C:\jobs\nightly","txnVersion":3}""")
    put(t.root, "_colmap.json", """{"v":0,"drop":"c\x"}""" + "\n")
    put(t.root, "_pins/0123456789abcdef0123456789abcdef01234567.json",
      """{"name":"cdc:/ck\new","v":0,"ts":1700000000000}""")
    val expectedChecks =
      Seq(("s_ok", """s <> 'it\'s  x'"""), ("digits", """d RLIKE '^\\d+$'"""))
    val expectedProps = Map("graft.mv.where" -> """d RLIKE '^\\d'""",
      "note" -> """C:\temp\new""")
    assert(t.checks === expectedChecks)
    assert(t.properties === expectedProps)
    assert(t.lastTxnVersion("""C:\jobs\nightly""") === Some(3L))
    assert(t.columnDrops === Seq((0L, """c\x""")))
    assert(t.pinsDetail === Map("""cdc:/ck\new""" -> ((0L, 1700000000000L))))
    // the stored CHECKs keep their meaning on writes
    t.append(Seq(("ok", "12")).toDF("s", "d"))
    intercept[Throwable](t.append(Seq(("it's  x", "12")).toDF("s", "d")))
    intercept[Throwable](t.append(Seq(("ok", "x12")).toDF("s", "d")))
    assert(t.read.count() === 1L)
    // and a rewrite of each registry reads back the same
    t.dropCheck("absent")
    t.setProperties(Map.empty)
    assert(t.checks === expectedChecks)
    assert(t.properties === expectedProps)
  }

  test("intent lines, including the escaped form older writers used for ']'") {
    val u005d = "\\" + "u005d"
    val old =
      s"""{"action":"merge","consumed":["a$u005d","b,c"],"produced":[],""" +
        """"basedOn":3,"txnApp":"app \"q\" \\ x","txnVersion":7,"dvs":[],""" +
        """"cdf":"c-1","cellRebase":false,"autoCompact":true}"""
    assert(PreparedCommit.fromJson(old) === PreparedCommit("merge",
      Seq("a]", "b,c"), Nil, Some(3L), Some(("app \"q\" \\ x", 7L)), Nil,
      Some("c-1"), cellRebase = false, autoCompact = true))
    val line =
      """{"action":"merge","consumed":["x.b00001"],"produced":["y.b00001"],""" +
        """"basedOn":3,"txnApp":"app \"q\" \\ x","txnVersion":7,""" +
        """"dvs":["d1"],"cdf":"c-1","cellRebase":true,"autoCompact":false}"""
    val bare =
      """{"action":"merge","consumed":[],"produced":["y.b00001"],""" +
        """"dvs":[],"cellRebase":false,"autoCompact":false}"""
    for (l <- Seq(line, bare))
      assert(PreparedCommit.fromJson(l).toJson === l)
  }
}
