package graft.tables

import graft.SparkSpec
import scala.jdk.CollectionConverters._

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  test("append accumulates rows across versions; overwrite replaces") {
    val t = VersionedTable(spark, tmpDir("vt-"))
    assert(!t.exists)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    assert(t.read.count() === 2)
    t.overwrite(Seq((9, "z")).toDF("id", "v"))
    assert(t.read.as[(Int, String)].collect().toSet === Set((9, "z")))
    assert(t.latestVersion === Some(2L))
  }

  test("readVersion / asOf time travel reach historical snapshots") {
    val t = VersionedTable(spark, tmpDir("vt-"))
    t.append(Seq(1).toDF("id"))
    val ts0 = t.history.last.tsMillis
    Thread.sleep(5)
    t.append(Seq(2).toDF("id"))
    assert(t.readVersion(0).as[Int].collect().toSet === Set(1))
    assert(t.readVersion(1).as[Int].collect().toSet === Set(1, 2))
    assert(t.asOf(ts0).as[Int].collect().toSet === Set(1))
    assertThrows[RuntimeException](t.readVersion(99))
  }

  test("merge dedups update side then upserts; rerun yields same snapshot") {
    val t = VersionedTable(spark, tmpDir("vt-"))
    t.overwrite(Seq((1, 10L, "a"), (2, 10L, "b")).toDF("id", "ts", "v"))
    // two update rows for id=2: latest ts wins
    val updates = Seq((2, 20L, "b2"), (2, 30L, "b3"), (3, 5L, "c"))
      .toDF("id", "ts", "v")
    t.merge(updates, Seq("id"), preferUpdateBy = Some("ts"))
    val snap1 = t.read.as[(Int, Long, String)].collect().toSet
    assert(snap1 === Set((1, 10L, "a"), (2, 30L, "b3"), (3, 5L, "c")))
    t.merge(updates, Seq("id"), preferUpdateBy = Some("ts"))
    assert(t.read.as[(Int, Long, String)].collect().toSet === snap1)
  }

  test("compact rewrites current snapshot; vacuum drops unreachable files") {
    val t = VersionedTable(spark, tmpDir("vt-"))
    t.append(Seq(1, 2).toDF("id").repartition(4))
    t.append(Seq(3).toDF("id"))
    t.compact(numFiles = 1)
    assert(t.read.as[Int].collect().toSet === Set(1, 2, 3))
    assert(t.read.inputFiles.length === 1)
    t.vacuum(retainVersions = 1)
    // current snapshot still readable; version 0 files gone
    assert(t.read.as[Int].collect().toSet === Set(1, 2, 3))
    assertThrows[Exception](t.readVersion(0).collect())
  }

  test("partitioned append: reads prune partitions on the partition key") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-part-"))
    val day = (d: String, n: Int) => spark.range(n.toLong)
      .select(col("id"), lit(d).as("snapshot_date"))
    t.append(day("2025-08-11", 10), partitionBy = Seq("snapshot_date"))
    t.append(day("2025-08-12", 20), partitionBy = Seq("snapshot_date"))
    val q = t.read.filter(col("snapshot_date") === "2025-08-12")
    assert(q.count() === 20)
    val plan = q.queryExecution.executedPlan.toString
    // the equality predicate must land in PartitionFilters (pruning),
    // not in the row-level DataFilters
    assert("PartitionFilters: \\[isnotnull\\(snapshot_date[^\\]]*= 2025-08-12"
      .r.findFirstIn(plan).isDefined,
      s"partition filter not applied:\n$plan")
    // pruning is real: the selected-partition count drops to 1 per scan
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.selectedPartitions.totalNumberOfFiles
    }
    // the 2025-08-11 partition contributes no files post-pruning: total
    // files read across scans < total files in the table
    val allFiles = t.read.inputFiles.length
    assert(scans.nonEmpty && scans.sum < allFiles,
      s"pruning read all $allFiles files ($scans)")
  }

  test("M4 schema evolution: additive columns appear as null for old rows") {
    val t = VersionedTable(spark, tmpDir("vt-evo-"))
    t.append(Seq((1, "a")).toDF("id", "v"))
    // later append adds a column (the silver "controlled additions" path)
    t.append(Seq((2, "b", 9.9)).toDF("id", "v", "score"))
    val out = t.read.select("id", "v", "score")
      .as[(Int, String, Option[Double])].collect().toSet
    assert(out === Set((1, "a", None), (2, "b", Some(9.9))))
    // old versions remain readable with their own schema
    assert(!t.readVersion(0).columns.contains("score"))
  }

  test("empty table read errors; merge into empty table bootstraps it") {
    val t = VersionedTable(spark, tmpDir("vt-"))
    assertThrows[RuntimeException](t.read)
    t.merge(Seq((1, "a")).toDF("id", "v"), Seq("id"))
    assert(t.read.count() === 1)
  }

  test("copy-on-write merge rewrites ONLY the touched bucket's file-set") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-cow-"))
    val base = spark.range(100).select(col("id"), lit("x").as("v"))
    t.merge(base, Seq("id"), numBuckets = 8) // bootstrap: bucketed layout
    val before = t.history.last.fileSets
    assert(before.nonEmpty && before.forall(_.matches(""".*\.b\d+$""")),
      s"expected bucketed file-sets, got $before")
    t.merge(Seq((5L, "updated")).toDF("id", "v"), Seq("id"))
    val after = t.history.last.fileSets
    val rewritten = after.toSet.diff(before.toSet)
    val carried = after.toSet.intersect(before.toSet)
    assert(rewritten.size === 1, s"expected 1 rewritten bucket, got $rewritten")
    assert(carried.size === before.size - 1,
      s"untouched file-sets must carry over: before=$before after=$after")
    // and the merge is still correct
    assert(t.read.filter(col("id") === 5).select("v").as[String]
      .collect().toSet === Set("updated"))
    assert(t.read.count() === 100)
    // appends to a bucketed table stay bucket-split, keeping merges COW
    t.append(Seq((200L, "y")).toDF("id", "v"))
    assert(t.history.last.fileSets.forall(_.matches(""".*\.b\d+$""")))
    assert(t.read.count() === 101)
  }

  test("merge tolerates additive schema evolution and empty batches") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-evo-merge-"))
    t.merge(Seq((1, "a"), (2, "b")).toDF("id", "v"), Seq("id"))
    // a later feed gained a column (e.g. _rescued_data appearing mid-feed)
    t.merge(Seq((2, "b2", "extra")).toDF("id", "v", "rescued"), Seq("id"))
    val out = t.read.select("id", "v", "rescued")
      .as[(Int, String, Option[String])].collect().toSet
    assert(out === Set((1, "a", None), (2, "b2", Some("extra"))))
    // an empty micro-batch must not produce a schema-less snapshot
    val empty = Seq.empty[(Int, String, String)].toDF("id", "v", "rescued")
    t.merge(empty, Seq("id"))
    assert(t.read.columns.contains("id"))
    assert(t.read.count() === 2)
    // and bootstrapping a NEW table from an empty batch keeps the schema
    val t2 = VersionedTable(spark, tmpDir("vt-empty-boot-"))
    t2.merge(Seq.empty[(Int, String)].toDF("id", "v"), Seq("id"))
    assert(t2.read.columns.toSeq === Seq("id", "v"))
    assert(t2.read.count() === 0)
  }

  test("readForKeys scans only the key's bucket file-sets") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = VersionedTable(spark, tmpDir("vt-lookup-"))
    val base = spark.range(200).select(col("id"), (col("id") * 2).as("v"))
    t.merge(base, Seq("id"), numBuckets = 8)
    val out = t.readForKeys(Seq(Seq(42L)))
    assert(out.select("v").as[Long].collect().toSeq === Seq(84L))
    // the scan must touch ~1/8 of the table's files, not all of them
    val scanned = out.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.selectedPartitions.totalNumberOfFiles
    }.sum
    val allFiles = t.read.inputFiles.length
    assert(scanned < allFiles,
      s"lookup scanned all $allFiles files (no bucket pruning)")
    // multiple keys across buckets still resolve
    val multi = t.readForKeys(Seq(Seq(1L), Seq(42L), Seq(199L)))
    assert(multi.select("id").as[Long].collect().toSet === Set(1L, 42L, 199L))
    // asOfVersion pins the lookup to that snapshot: a later merge's
    // value must not leak into the pinned read (and pruning still holds)
    val v0 = t.latestVersion.get
    t.merge(Seq((42L, 9999L)).toDF("id", "v"), Seq("id"))
    assert(t.readForKeys(Seq(Seq(42L))).select("v").as[Long]
      .collect().toSeq === Seq(9999L))
    val pinned = t.readForKeys(Seq(Seq(42L)), asOfVersion = Some(v0))
    assert(pinned.select("v").as[Long].collect().toSeq === Seq(84L),
      "asOfVersion read must serve the pinned snapshot's value")
    val pinnedScanned = pinned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.selectedPartitions.totalNumberOfFiles
    }.sum
    assert(pinnedScanned < allFiles, "pinned lookup must stay bucket-pruned")
  }

  test("union-arm folding: many same-schema appends plan ONE parquet scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = VersionedTable(spark, tmpDir("vt-fold-"))
    (1 to 12).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    val scans = t.read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.length === 1, s"expected 1 folded scan, got ${scans.length}")
    assert(t.read.count() === 12)
    // a schema-evolved append opens a second scan arm, not a 13th
    t.append(Seq((13, "v13", 1.5)).toDF("id", "v", "score"))
    val scans2 = t.read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans2.length === 2, s"expected 2 scans, got ${scans2.length}")
    assert(t.read.count() === 13)
  }

  test("fold grouping is metadata-blind: commented and plain writers share one arm") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.types._
    val t = VersionedTable(spark, tmpDir("vt-foldmeta-"))
    t.append(Seq((1, "a")).toDF("id", "v"))
    // same physical schema, but the writer's df carries field METADATA
    // (a comment) — invisible to parquet, so footer inference and the
    // plain writer above report the identical schema; a metadata-aware
    // tag/cache would open a second fold group for one logical schema
    val md = new MetadataBuilder().putString("comment", "the value").build()
    val commented = Seq((2, "b")).toDF("id", "v")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("v").as("v", md))
    assert(commented.schema("v").metadata.contains("comment"))
    t.append(commented)
    val scans = t.read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.length === 1,
      s"metadata drift must not split fold groups: ${scans.length} scans")
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
  }

  test("readRange skips file-sets via min/max stats sidecars, exactly") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-stats-"))
    // three appends with disjoint id ranges, stats recorded on `id`
    t.append(spark.range(0, 100).toDF("id"), statsFor = Seq("id"))
    t.append(spark.range(100, 200).toDF("id"), statsFor = Seq("id"))
    t.append(spark.range(200, 300).toDF("id"), statsFor = Seq("id"))
    val out = t.readRange("id", "120", "180")
    assert(out.as[Long].collect().toSet === (120L to 180L).toSet)
    // skipping is real: only the middle file-set's files are opened
    assert(out.inputFiles.length < t.read.inputFiles.length,
      s"no skipping: ${out.inputFiles.length}/${t.read.inputFiles.length}")
    // file-sets without stats are never skipped (correctness first)
    t.append(spark.range(150, 160).toDF("id")) // no statsFor
    val out2 = t.readRange("id", "150", "159")
    assert(out2.count() === 20) // 10 from stats'd set + 10 from statless
  }

  test("data skipping survives RENAME COLUMN (pre-rename sidecars prune)") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-rnskip-"))
    t.append(spark.range(0, 100).toDF("id"), statsFor = Seq("id"),
      bloomFor = Seq("id"))
    t.append(spark.range(100, 200).toDF("id"), statsFor = Seq("id"),
      bloomFor = Seq("id"))
    t.renameColumn("id", "uid") // metadata-only: sidecars keep the old key
    val out = t.readRange("uid", "120", "180")
    assert(out.as[Long].collect().toSet === (120L to 180L).toSet)
    assert(out.inputFiles.length < t.read.inputFiles.length,
      "pre-rename stats sidecars stopped pruning after the rename")
    val hit = t.readEquals("uid", Seq(150L))
    assert(hit.as[Long].collect().toList === List(150L))
    assert(hit.inputFiles.length < t.read.inputFiles.length,
      "pre-rename bloom sidecars stopped pruning after the rename")
    // post-rename writes record under the new name; both eras prune
    t.append(spark.range(200, 300).toDF("uid"), statsFor = Seq("uid"))
    val out2 = t.readRange("uid", "250", "260")
    assert(out2.count() === 11)
    assert(out2.inputFiles.length < t.read.inputFiles.length)
  }

  test("convertFrom adopts a flat parquet dir zero-copy; ANALYZE lights up skipping") {
    import java.nio.file.{Files => JF, Paths => JP}
    val srcDir = tmpDir("vt-convert-src-") + "/plain"
    spark.range(0, 100).toDF("id").coalesce(2).write.parquet(srcDir)
    val t = VersionedTable(spark, tmpDir("vt-convert-"))
    val e = t.convertFrom(srcDir)
    assert(e.action === "convert" && e.version === 0)
    assert(t.read.as[Long].collect().toSet === (0L until 100L).toSet)
    // zero-copy: adopted files are HARDLINKS of the source files (same
    // inode), and the source dir stays readable in place
    val srcFile = JF.list(JP.get(srcDir)).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    val ino = JF.getAttribute(srcFile, "unix:ino")
    val adopted = t.read.inputFiles.map(f =>
      JF.getAttribute(JP.get(new java.net.URI(f)), "unix:ino")).toSet
    assert(adopted.contains(ino), "adopted files are copies, not links")
    assert(spark.read.parquet(srcDir).count() === 100)
    // the adopted table is a full citizen: DML + ANALYZE backfill
    t.append(spark.range(100, 200).toDF("id"))
    assert(t.computeStats(Seq("id")) === 2)   // both file-sets lacked stats
    assert(t.computeStats(Seq("id")) === 0)   // idempotent: coverage complete
    val out = t.readRange("id", "10", "20")
    assert(out.as[Long].collect().toSet === (10L to 20L).toSet)
    assert(out.inputFiles.length < t.read.inputFiles.length,
      "backfilled stats did not skip")
    // hive trees and occupied targets refuse loudly
    val hiveDir = tmpDir("vt-convert-hive-") + "/h"
    spark.range(10).toDF("id").withColumn("p", $"id" % 2)
      .write.partitionBy("p").parquet(hiveDir)
    val eh = intercept[Exception](
      VersionedTable(spark, tmpDir("vt-convert2-")).convertFrom(hiveDir))
    assert(eh.getMessage.contains("FLAT"))
    val eo = intercept[Exception](t.convertFrom(srcDir))
    assert(eo.getMessage.contains("already has versions"))
  }

  test("computeStats backfills bloom sidecars for point-lookup skipping") {
    val t = VersionedTable(spark, tmpDir("vt-analyze-bloom-"))
    t.append(spark.range(0, 1000).toDF("id"))      // no bloomFor at write
    t.append(spark.range(1000, 2000).toDF("id"))
    assert(t.computeStats(Seq("id"), bloomCols = Seq("id")) === 2)
    val hit = t.readEquals("id", Seq(1500L))
    assert(hit.as[Long].collect().toList === List(1500L))
    assert(hit.inputFiles.length < t.read.inputFiles.length,
      "backfilled bloom did not skip the non-matching file-set")
  }

  test("stats sidecars round-trip hostile string values (tabs, newlines, unicode)") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-stats-str-"))
    t.append(Seq("a\tb", "z\nx", "émoji 🎈").toDF("s"), statsFor = Seq("s"))
    // all three fall inside [a, 🎈] under UTF-8 binary order
    assert(t.readRange("s", "a", "🎈").count() === 3)
    // a range below every value prunes the file-set entirely
    val none = t.readRange("s", "0", "1")
    assert(none.count() === 0)
    assert(none.inputFiles.isEmpty, "stats failed to skip the file-set")
  }

  test("readRange bounds canonicalize through the column type (no lexical skips)") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-stats-ts-"))
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    t.append(Seq(ts("1996-06-01 00:00:00"), ts("1996-06-15 12:00:00"))
      .toDF("event_ts"), statsFor = Seq("event_ts"))
    // a date-form upper bound equal to the file-set's min must NOT skip:
    // lexically "1996-06-01 00:00:00" > "1996-06-01", but canonicalized
    // through the timestamp type both are midnight
    val out = t.readRange("event_ts", "1995-01-01", "1996-06-01")
    assert(out.count() === 1, "boundary row lost to lexical pruning")
    assert(out.as[java.sql.Timestamp].collect().head ===
      ts("1996-06-01 00:00:00"))
  }

  test("readAddedSince returns only post-version appends; rejects rewrites") {
    val t = VersionedTable(spark, tmpDir("vt-incr-"))
    t.append(Seq(1, 2).toDF("id"))             // v0
    t.append(Seq(3).toDF("id"))                // v1
    t.append(Seq(4, 5).toDF("id"))             // v2
    assert(t.readAddedSince(0).as[Int].collect().toSet === Set(3, 4, 5))
    assert(t.readAddedSince(1).as[Int].collect().toSet === Set(4, 5))
    assert(t.readAddedSince(2).count() === 0)  // nothing after the head
    t.compact()                                // v3 rewrites file-sets
    assertThrows[IllegalArgumentException](t.readAddedSince(0))
  }

  test("crashed-writer staging never reaches data/; vacuum clears orphans") {
    import java.nio.file.{Files => JFiles, Paths}
    val root = tmpDir("vt-crash-")
    val t = VersionedTable(spark, root)
    t.append(Seq(1, 2, 3).toDF("id"))
    // simulate a crash mid-write: partial output left in _staging, aged
    // past the grace window (fresh staging could be a LIVE writer's — the
    // age gate protects it from a concurrent vacuum)
    val orphan = Paths.get(root, "_staging", "deadbeef")
    JFiles.createDirectories(orphan)
    JFiles.writeString(orphan.resolve("junk.txt"), "not parquet")
    JFiles.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - VersionedTable.StagingGraceMillis - 60000))
    // snapshot reads go through the log and never see it
    assert(t.read.as[Int].collect().toSet === Set(1, 2, 3))
    // the streaming glob covers data/* only — staging is outside it, so
    // a crashed writer can never corrupt a stream reader
    assert(spark.read.schema("id INT").parquet(t.dataGlob).count() === 3)
    // vacuum clears the orphan (never referenced by the log)
    t.vacuum(retainVersions = 1)
    assert(!JFiles.exists(orphan), "vacuum left the orphaned staging dir")
    assert(t.read.count() === 3)
  }

  test("COW merge survives key-type drift (int update feed, bigint table)") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-drift-"))
    val base = spark.range(100).select(col("id"), lit("x").as("v")) // bigint
    t.merge(base, Seq("id"), numBuckets = 8)
    // a producer drifting to int keys must still hit the right buckets:
    // hash(5: int) != hash(5L: bigint), so without the cast the stale row
    // survives in a carried file-set and the update inserts a duplicate
    val updates = Seq((5, "updated"), (200, "new")).toDF("id", "v") // int
    t.merge(updates, Seq("id"))
    val snap = t.read
    assert(snap.count() === 101)
    assert(snap.groupBy("id").count().filter(col("count") > 1).count() === 0,
      "type-drifted merge left duplicate keys")
    assert(snap.filter(col("id") === 5).select("v").as[String]
      .collect().toSet === Set("updated"))
    assert(snap.filter(col("id") === 200).count() === 1)
  }

  test("stats sidecars work under a root that itself contains /data/") {
    val t = VersionedTable(spark, tmpDir("vt-dd-") + "/data/wh/tbl")
    // the file-set extraction must anchor on THIS table's data dir, not
    // the first '/data/' path segment ('wh' here)
    t.append(spark.range(0, 100).toDF("id"), statsFor = Seq("id"))
    t.append(spark.range(100, 200).toDF("id"), statsFor = Seq("id"))
    val out = t.readRange("id", "0", "50")
    assert(out.as[Long].collect().toSet === (0L to 50L).toSet)
    assert(out.inputFiles.length < t.read.inputFiles.length,
      "stats sidecar missed: no file-set was skipped")
  }

  test("restore rolls back to an old version as a NEW metadata-only version") {
    val t = VersionedTable(spark, tmpDir("vt-restore-"))
    t.append(Seq(1).toDF("id"))
    t.append(Seq(2).toDF("id"))          // v1: {1,2}
    t.overwrite(Seq(9).toDF("id"))       // v2: {9}
    val before = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root))
      .count()
    t.restore(1)
    assert(t.read.as[Int].collect().toSet === Set(1, 2))
    // metadata-only: one new log entry, zero new data files
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root))
      .count()
    assert(after === before + 1, "restore must not write data files")
    assert(t.history.last.action === "restore")
    assert(t.readVersion(2).as[Int].collect().toSet === Set(9),
      "the rolled-back version must stay in history")
    // TIMESTAMP AS OF form selects the same version an asOf read would
    // (the newest entry's own timestamp — immune to same-millisecond
    // neighbors — restores the restore, i.e. v1's content again)
    t.restoreAsOf(t.history.last.tsMillis)
    assert(t.read.as[Int].collect().toSet === Set(1, 2))
    // restoring past a vacuum must REFUSE, not commit a broken HEAD
    t.overwrite(Seq(7).toDF("id"))
    t.vacuum(retainVersions = 1)
    assertThrows[IllegalArgumentException](t.restore(0))
    assert(t.read.as[Int].collect().toSet === Set(7), "table must stay usable")
  }

  test("deleteRange rewrites ONLY stats-overlapping file-sets") {
    val t = VersionedTable(spark, tmpDir("vt-del-"))
    t.append(spark.range(0, 100).toDF("id"), statsFor = Seq("id"))
    t.append(spark.range(100, 200).toDF("id"), statsFor = Seq("id"))
    t.append(spark.range(200, 300).toDF("id"), statsFor = Seq("id"))
    val before = t.history.last.fileSets
    t.deleteRange("id", "120", "180")
    val after = t.history.last.fileSets
    assert(t.history.last.action === "delete")
    assert(after.toSet.intersect(before.toSet).size === 2,
      s"untouched file-sets must carry: before=$before after=$after")
    assert(t.read.count() === 300 - 61)
    assert(t.read.as[Long].collect().toSet ===
      ((0L until 120L) ++ (181L until 300L)).toSet)
    // rewritten file-set got fresh stats: a later range read still skips
    val probe = t.readRange("id", "0", "50")
    assert(probe.inputFiles.length < t.read.inputFiles.length)
  }

  test("update applies assignments against the OLD row, typed and stable") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-upd-"))
    t.append(Seq((1, 10, 100), (2, 20, 200), (3, 30, 300)).toDF("id", "a", "b"))
    // both RHS reference the pre-update row: after swap a=old b, b=old a+old b
    t.update(Map("a" -> $"b", "b" -> ($"a" + $"b")), $"id" >= 2)
    assert(t.history.last.action === "update")
    assert(t.read.orderBy("id").as[(Int, Int, Int)].collect().toSeq ===
      Seq((1, 10, 100), (2, 200, 220), (3, 300, 330)))
    // schema stays INT even though a+b could widen; NULL predicate keeps rows
    assert(t.read.schema("b").dataType === org.apache.spark.sql.types.IntegerType)
    t.update(Map("a" -> lit(-1)), when($"id" === 1, lit(true)))
    assert(t.read.orderBy("id").select("a").as[Int].collect().toSeq ===
      Seq(-1, 200, 300))
  }

  test("updateRange rewrites ONLY stats-overlapping file-sets") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-updrange-"))
    t.append(spark.range(0, 100).toDF("id").withColumn("v", lit(0L)),
      statsFor = Seq("id"))
    t.append(spark.range(100, 200).toDF("id").withColumn("v", lit(0L)),
      statsFor = Seq("id"))
    t.append(spark.range(200, 300).toDF("id").withColumn("v", lit(0L)),
      statsFor = Seq("id"))
    val before = t.history.last.fileSets
    t.updateRange("id", "120", "180", Map("v" -> lit(7L)))
    val after = t.history.last.fileSets
    assert(after.toSet.intersect(before.toSet).size === 2,
      s"untouched file-sets must carry: before=$before after=$after")
    assert(t.read.filter($"v" === 7L).count() === 61)
    assert(t.read.filter($"v" === 0L).count() === 239)
    // rewritten file-set regained stats: range reads still skip
    assert(t.readRange("id", "0", "50").inputFiles.length <
      t.read.inputFiles.length)
  }

  test("update enforces CHECK constraints on the post-image") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-updcheck-"))
    t.append(Seq((1, 5), (2, 6)).toDF("id", "v"))
    t.addCheck("v_pos", "v > 0")
    intercept[Exception] { t.update(Map("v" -> lit(-1)), $"id" === 1) }
    // failed update never committed; a passing one does
    assert(t.read.filter($"v" < 0).count() === 0)
    t.update(Map("v" -> ($"v" + 1)), $"id" === 1)
    assert(t.read.orderBy("id").select("v").as[Int].collect().toSeq === Seq(6, 6))
  }

  test("updateRange refuses bucket-key assignments; update() re-routes them") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-updkey-"))
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keys = Seq("k"),
      numBuckets = 4)
    intercept[IllegalArgumentException] {
      t.updateRange("k", "1", "2", Map("k" -> lit(99L)))
    }
    t.update(Map("k" -> lit(99L)), $"k" === 2L)
    // moved row landed in its new bucket: merge on k=99 still finds it
    t.merge(Seq((99L, "b2")).toDF("k", "v"), keys = Seq("k"))
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (99L, "b2")))
  }

  test("log checkpoint folds entries; pruned logs keep full history + ledger") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-cp-"))
    (0 until 8).foreach(i => t.append(Seq(i).toDF("v"),
      txn = if (i == 5) Some(("app", 41L)) else None))
    t.deleteVectors($"v" === 3) // a vector-bearing entry must round-trip
    t.checkpointLog(pruneEntries = true)
    val logs = java.nio.file.Files.list(
      java.nio.file.Paths.get(t.root, "_log")).iterator().asScala.toList
      .map(_.getFileName.toString).sorted
    assert(logs.count(_.endsWith(".checkpoint")) === 1)
    assert(!logs.exists(_.endsWith(".json")), s"entries must prune: $logs")
    // complete history through the checkpoint alone
    assert(t.history.map(_.version) === (0L to 8L))
    assert(t.history.last.dvs.length === 1)
    assert(t.lastTxnVersion("app") === Some(41L))
    assert(t.read.count() === 7)
    assert(t.readVersion(2).count() === 3) // time travel through checkpoint
    // post-checkpoint commits land as tail entries and fold on the next one
    t.append(Seq(100).toDF("v"))
    assert(t.history.map(_.version) === (0L to 9L))
    assert(t.read.count() === 8)
    t.checkpointLog(pruneEntries = true)
    assert(t.history.map(_.version) === (0L to 9L))
    // older checkpoint replaced, not accumulated
    val logs2 = java.nio.file.Files.list(
      java.nio.file.Paths.get(t.root, "_log")).iterator().asScala.toList
      .map(_.getFileName.toString)
    assert(logs2.count(_.endsWith(".checkpoint")) === 1)
  }

  test("auto-checkpoint kicks in at the commit interval") {
    val t = VersionedTable(spark, tmpDir("vt-autocp-"))
    val n = VersionedTable.CheckpointInterval.toInt + 2
    (0 until n).foreach(i => t.append(Seq(i).toDF("v")))
    val logs = java.nio.file.Files.list(
      java.nio.file.Paths.get(t.root, "_log")).iterator().asScala.toList
      .map(_.getFileName.toString)
    assert(logs.exists(_.endsWith(".checkpoint")),
      s"expected an auto checkpoint among $logs")
    assert(t.history.length === n)
    assert(t.read.count() === n)
  }

  test("generated columns compute when absent, enforce when present") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-gen-"))
    t.addGeneratedColumn("doubled", "v * 2")
    t.append(Seq(1, 2).toDF("v"))                       // absent: computed
    assert(t.read.orderBy("v").as[(Int, Int)].collect().toSeq ===
      Seq((1, 2), (2, 4)))
    t.append(Seq((3, 6)).toDF("v", "doubled"))          // consistent: ok
    intercept[Exception] {                              // divergent: refused
      t.append(Seq((4, 9)).toDF("v", "doubled"))
    }
    assert(t.read.count() === 3)
    // merge inserts generate too; a generated partition column prunes
    val t2 = VersionedTable(spark, tmpDir("vt-genm-"))
    t2.addGeneratedColumn("bucket3", "CAST(k % 3 AS INT)")
    t2.merge(Seq((1L, "a"), (5L, "b")).toDF("k", "x"), keys = Seq("k"))
    assert(t2.read.filter($"bucket3" === ($"k" % 3).cast("int")).count() === 2)
    // declaring on a populated table validates; missing column refuses
    val t3 = VersionedTable(spark, tmpDir("vt-genv-"))
    t3.append(Seq((1, 2)).toDF("v", "doubled"))
    t3.addGeneratedColumn("doubled", "v * 2")           // consistent: ok
    intercept[IllegalArgumentException] {
      t3.addGeneratedColumn("tripled", "v * 3")         // column absent
    }
    // UPDATE of a source column RECOMPUTES the derivation (Delta UPDATE
    // semantics) instead of rejecting the now-stale generated value
    t3.update(Map("v" -> lit(10)), $"v" === 1)
    assert(t3.read.as[(Int, Int)].collect().toSeq === Seq((10, 20)))
    // restore cannot resurrect a version predating the declaration
    val t4 = VersionedTable(spark, tmpDir("vt-genr-"))
    t4.append(Seq(1).toDF("v"))                         // v0: no gen col
    t4.overwrite(Seq((2, 4)).toDF("v", "doubled"))      // v1: carries it
    t4.addGeneratedColumn("doubled", "v * 2")
    intercept[IllegalArgumentException] { t4.restore(0) }
    assert(t4.read.as[(Int, Int)].collect().toSeq === Seq((2, 4)))
  }

  test("compactSmall folds only sub-threshold file-sets") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-csmall-"))
    t.append(spark.range(0, 100000).toDF("id"))   // large
    (0 until 4).foreach(i => t.append(Seq(i.toLong + 200000L).toDF("id")))
    val before = t.history.last.fileSets
    val large = before.head
    t.compactSmall(maxBytes = 64 * 1024)
    val after = t.history.last.fileSets
    assert(after.contains(large), "the large file-set must carry verbatim")
    assert(after.length === 2, s"4 small file-sets fold into one: $after")
    assert(t.read.count() === 100004)
    // DV entries on folded file-sets materialize through the fold: add
    // a fresh small file-set so there are TWO to fold (a single small
    // file-set is the no-op early return — which must also not commit)
    val vNoop = t.latestVersion
    t.compactSmall(maxBytes = 64 * 1024)
    assert(t.latestVersion === vNoop, "no-op compactSmall must not commit")
    t.deleteVectors($"id" === 200001L)
    t.append(Seq(300000L).toDF("id"))
    t.compactSmall(maxBytes = 64 * 1024)
    assert(t.history.last.fileSets.length === 2)
    assert(t.read.count() === 100004)
    assert(t.read.filter($"id" === 200001L).count() === 0)
    // the deleted row is gone from the DATA too, not just masked: a raw
    // read of the folded file-sets without the vector finds nothing
    val raw = t.history.last.fileSets
      .map(fs => spark.read.parquet(
        java.nio.file.Paths.get(t.root, "data", fs).toString))
      .reduce(_.unionByName(_))
    assert(raw.filter($"id" === 200001L).count() === 0)
  }

  test("bloom sidecars prune point lookups where min/max stats cannot") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-bloom-"))
    // evens and odds: DISJOINT values, near-identical [min,max] — range
    // stats can never separate them, the bloom sketch can
    val evens = spark.range(0, 1000).filter($"id" % 2 === 0).toDF("id")
    val odds = spark.range(0, 1000).filter($"id" % 2 =!= 0).toDF("id")
    val highs = spark.range(1000, 2000).toDF("id")
    Seq(evens, odds, highs).foreach(df =>
      t.append(df, statsFor = Seq("id"), bloomFor = Seq("id")))
    val probe = t.readEquals("id", Seq(500L))
    assert(probe.as[Long].collect().toSeq === Seq(500L))
    assert(probe.inputFiles.length < t.read.inputFiles.length,
      "bloom must prune the odd and high file-sets")
    val evensOnly = probe.inputFiles.length
    // multi-value probes union their buckets; absent values stay exact
    assert(t.readEquals("id", Seq(500L, 501L)).as[Long].collect().toSet ===
      Set(500L, 501L))
    assert(t.readEquals("id", Seq(5000L)).count() === 0)
    // a rewrite regenerates bloom coverage (maintenance must not strip
    // pruning): after deleting inside highs, a probe for 500 must still
    // read ONLY the evens file-set — if the rewritten highs lost its
    // sketch it would be conservatively read
    t.deleteRange("id", "1500", "1600")
    val p2 = t.readEquals("id", Seq(500L))
    assert(p2.as[Long].collect().toSeq === Seq(500L))
    assert(p2.inputFiles.length === evensOnly,
      "rewritten file-set must regain its bloom sidecar")
    assert(t.readEquals("id", Seq(1500L)).count() === 0) // deleted
    assert(t.readEquals("id", Seq(1601L)).as[Long].collect().toSeq ===
      Seq(1601L)) // survived the rewrite
  }

  test("bloom probes survive schema-generation type drift (int era vs long era)") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-bloomdrift-"))
    // an int-typed producer era followed by a long-typed one: the union
    // schema widens to bigint, but each file-set's sketch was built from
    // its NATIVE type — the string-normalized hash keeps probes finding
    // rows in BOTH eras (raw xxhash64 of int 5 != long 5 would silently
    // skip the int-era file-set)
    t.append(Seq(5, 6).toDF("id"), bloomFor = Seq("id"))              // int era
    t.append(Seq(7L, 8L).toDF("id"), bloomFor = Seq("id"))            // long era
    assert(t.readEquals("id", Seq(5)).count() === 1)
    assert(t.readEquals("id", Seq(5L)).count() === 1)  // probe type-agnostic
    assert(t.readEquals("id", Seq(8)).count() === 1)
    assert(t.readEquals("id", Seq(5, 8L)).as[Long].collect().toSet ===
      Set(5L, 8L))
  }

  test("change feed: merge/update/delete emit row changes; appends synthesize") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-cdf-"))
    t.enableChangeFeed()
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))          // v0
    t.merge(Seq((2, "b2"), (3, "c")).toDF("k", "v"), Seq("k")) // v1
    t.update(Map("v" -> concat($"v", lit("!"))), $"k" === 1)   // v2
    t.delete($"k" === 3)                                       // v3
    val feed = t.readChangeFeed(-1)
      .select("_commit_version", "_change_type", "k", "v")
      .as[(Long, String, Int, String)].collect().toSet
    assert(feed === Set(
      (0L, "insert", 1, "a"), (0L, "insert", 2, "b"),
      (1L, "update_preimage", 2, "b"), (1L, "update_postimage", 2, "b2"),
      (1L, "insert", 3, "c"),
      (2L, "update_preimage", 1, "a"), (2L, "update_postimage", 1, "a!"),
      (3L, "delete", 3, "c")))
    // bounded window + since filtering
    assert(t.readChangeFeed(1, endVersion = Some(2))
      .select("_change_type").as[String].collect().sorted.toSeq ===
      Seq("update_postimage", "update_preimage"))
    // compact produces no logical changes; the feed stays readable across it
    t.compact()
    assert(t.readChangeFeed(3).count() === 0)
    // overwrite is not expressible as row changes: the feed refuses
    t.overwrite(Seq((9, "z")).toDF("k", "v"))
    intercept[RuntimeException] { t.readChangeFeed(3).count() }
    assert(t.readChangeFeed(t.latestVersion.get).count() === 0) // past it: fine
  }

  test("change feed: merge tombstones emit delete rows with pre-images") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-cdf-tomb-"))
    t.enableChangeFeed()
    t.merge(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), Seq("k")) // v0
    // one batch carrying an upsert, a matched tombstone, and an
    // unmatched tombstone: the feed must show exactly one update pair
    // and one delete (the unmatched tombstone emits nothing)
    t.merge(Seq(
        (2, "b2", false), (3, "x", true), (9, "x", true))
      .toDF("k", "v", graft.ops.Merge.DeleteCol), Seq("k"))             // v1
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b2")))
    val feed = t.readChangeFeed(0)
      .select("_commit_version", "_change_type", "k", "v")
      .as[(Long, String, Int, String)].collect().toSet
    assert(feed === Set(
      (1L, "update_preimage", 2, "b"), (1L, "update_postimage", 2, "b2"),
      (1L, "delete", 3, "c")))
  }

  test("change feed reads ACROSS a column rename under the current names") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-cdf-rn-"))
    t.enableChangeFeed()
    t.merge(Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))  // v0 (old era)
    t.renameColumn("v", "val")                                 // v1 (no changes)
    t.merge(Seq((2, "b2")).toDF("k", "val"), Seq("k"))         // v2 (new era)
    // one read spanning both eras: old-era change files carry physical
    // `v`, new-era ones `val` — the feed projects BOTH to the current
    // name, where Delta's CDF would refuse the schema-change boundary
    val feed = t.readChangeFeed(-1)
      .select("_commit_version", "_change_type", "k", "val")
      .as[(Long, String, Int, String)].collect().toSet
    assert(feed === Set(
      (0L, "insert", 1, "a"), (0L, "insert", 2, "b"),
      (2L, "update_preimage", 2, "b"), (2L, "update_postimage", 2, "b2")))
    // and a DROP projects the column out of every era
    t.dropColumn("val")
    assert(!t.readChangeFeed(-1).columns.contains("val"))
    assert(t.readChangeFeed(-1).columns.contains("k"))
  }

  test("change feed: DV deletes and no-op DMLs report exactly their rows") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-cdfdv-"))
    t.enableChangeFeed()
    t.append(spark.range(0, 10).toDF("id"), statsFor = Seq("id"))  // v0
    t.deleteVectors($"id" === 4)                                   // v1
    t.deleteRange("id", "100", "200")                              // v2: no-op
    val feed = t.readChangeFeed(0)
      .select("_commit_version", "_change_type", "id")
      .as[(Long, String, Long)].collect().toSet
    assert(feed === Set((1L, "delete", 4L)))
    // CDF disabled tables refuse reconstruction of DML commits
    val t2 = VersionedTable(spark, tmpDir("vt-nocdf-"))
    t2.append(Seq(1).toDF("v"))
    t2.delete($"v" === 1)
    intercept[RuntimeException] { t2.readChangeFeed(0).count() }
    assert(t2.readChangeFeed(-1, endVersion = Some(0)).count() === 1) // appends ok
  }

  test("change feed survives merge classification with updateExprs and NULL keys") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-cdfmerge-"))
    t.enableChangeFeed()
    t.merge(Seq((Some(1), 10L), (Some(2), 20L)).toDF("k", "cnt"), Seq("k")) // v0
    t.merge(Seq((Some(1), 5L), (None, 7L)).toDF("k", "cnt"), Seq("k"),
      updateExprs = Map("cnt" -> ((tc, u) => tc + u)))                      // v1
    val feed = t.readChangeFeed(0)
      .select("_change_type", "k", "cnt")
      .as[(String, Option[Int], Long)].collect().toSet
    // matched key 1 combines 10+5; NULL key inserts (MERGE ON semantics)
    assert(feed === Set(
      ("update_preimage", Some(1), 10L),
      ("update_postimage", Some(1), 15L),
      ("insert", None, 7L)))
    // vacuum retention reclaims old change sets; the feed then errors
    t.append(Seq((Some(9), 9L)).toDF("k", "cnt"))
    t.vacuum(retainVersions = 1)
    intercept[RuntimeException] { t.readChangeFeed(0).count() }
  }

  test("change feed folds same-schema versions into bounded scan arms") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-cdffold-"))
    t.enableChangeFeed()
    t.merge(Seq((1, 0L)).toDF("k", "n"), Seq("k"))      // v0 explicit set
    (1 to 6).foreach { i =>                             // v1..v6 explicit sets
      t.merge(Seq((i % 3, i.toLong)).toDF("k", "n"), Seq("k"))
    }
    (1 to 6).foreach { i =>                             // v7..v12 appends
      t.append(Seq((100 + i, i.toLong)).toDF("k", "n"))
    }
    val feed = t.readChangeFeed(-1)
    // 13 versions must NOT mean 13 scan arms: one folded scan for the
    // same-schema change sets + one for the appended file-sets
    val scans = feed.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.length <= 3,
      s"feed built ${scans.length} scan arms for 13 versions — folding lost")
    // and the folded read still stamps every row with ITS commit version
    val versions = feed.select("_commit_version").distinct()
      .as[Long].collect().toSet
    assert(versions === (0L to 12L).toSet)
    val v9 = feed.filter(col("_commit_version") === 9)
      .select("_change_type", "k").as[(String, Int)].collect().toSeq
    assert(v9 === Seq(("insert", 103)))
  }

  test("change feed classification survives additive schema evolution") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-cdfevo-"))
    t.enableChangeFeed()
    t.merge(Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))          // v0
    // the update batch gained a column: matched row updates, new key
    // inserts; pre-images predate the evolution so their w is NULL
    t.merge(Seq((2, "b2", 20L), (3, "c", 30L)).toDF("k", "v", "w"),
      Seq("k"))                                                        // v1
    val feed = t.readChangeFeed(0)
      .select("_change_type", "k", "v", "w")
      .as[(String, Int, String, Option[Long])].collect().toSet
    assert(feed === Set(
      ("update_preimage", 2, "b", None),
      ("update_postimage", 2, "b2", Some(20L)),
      ("insert", 3, "c", Some(30L))))
    // the snapshot itself evolved additively
    assert(t.read.columns.toSet === Set("k", "v", "w"))
    assert(t.read.filter($"k" === 1).select("w").as[Option[Long]]
      .collect().toSeq === Seq(None))
  }

  test("deleteVectors: merge-on-read delete writes NO data files; reads apply it") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-dv-"))
    t.append(spark.range(0, 100).toDF("id"), statsFor = Seq("id"))
    t.append(spark.range(100, 200).toDF("id"), statsFor = Seq("id"))
    val before = t.history.last.fileSets
    t.deleteVectors($"id" % 10 === 3)
    val e = t.history.last
    assert(e.action === "delete_dv")
    assert(e.fileSets === before, "DV delete must not rewrite any file-set")
    assert(e.dvs.length === 1)
    assert(t.read.count() === 180)
    assert(t.read.filter($"id" % 10 === 3).count() === 0)
    // time travel to the pre-delete version ignores the vector
    assert(t.readVersion(1).count() === 200)
    // stats-pruned range reads apply the vector too
    assert(t.readRange("id", "0", "49").count() === 45)
    // rerun-idempotent: same predicate again finds nothing new
    t.deleteVectors($"id" % 10 === 3)
    assert(t.history.last.dvs.length === 1, "empty rerun vector must be dropped")
    assert(t.read.count() === 180)
    // second vector stacks on the first
    t.deleteVectors($"id" === 0)
    assert(t.history.last.dvs.length === 2)
    assert(t.read.count() === 179)
  }

  test("purgeDeleteVectors materializes vectors, rewriting only hit file-sets") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-dvpurge-"))
    t.append(spark.range(0, 100).toDF("id"), statsFor = Seq("id"))
    t.append(spark.range(100, 200).toDF("id"), statsFor = Seq("id"))
    t.deleteVectors($"id".isin(5, 7))   // both rows live in file-set 1
    val before = t.history.last.fileSets
    t.purgeDeleteVectors()
    val e = t.history.last
    assert(e.action === "purge_dv")
    assert(e.dvs.isEmpty)
    assert(e.fileSets.toSet.intersect(before.toSet).size === 1,
      s"only the hit file-set rewrites: before=$before after=${e.fileSets}")
    assert(t.read.count() === 198)
    assert(t.read.filter($"id".isin(5, 7)).count() === 0)
    // purge preserved data-skipping on the rewritten file-set
    assert(t.readRange("id", "0", "10").inputFiles.length <
      t.read.inputFiles.length)
    // purging a vector-free table is a no-op, not a new version
    val v = t.latestVersion
    t.purgeDeleteVectors()
    assert(t.latestVersion === v)
  }

  test("deletion vectors survive merge/compact and clear on overwrite") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-dvmerge-"))
    t.merge(spark.range(0, 40).select($"id".as("k"), lit("a").as("v")),
      keys = Seq("k"), numBuckets = 4)
    t.deleteVectors($"k" === 17)
    assert(t.read.count() === 39)
    // a merge that does NOT touch k=17's row keeps the delete applied
    t.merge(Seq((17L + 4L, "b")).toDF("k", "v"), keys = Seq("k"))
    assert(t.read.count() === 39)
    assert(t.read.filter($"k" === 17).count() === 0)
    assert(t.history.last.dvs.nonEmpty, "merge carries the vector")
    // a merge UPSERTING k=17 re-inserts it (its old row is dead, the
    // update row is unmatched — SQL MERGE semantics on current state)
    t.merge(Seq((17L, "back")).toDF("k", "v"), keys = Seq("k"))
    assert(t.read.filter($"k" === 17).count() === 1)
    assert(t.read.count() === 40)
    // compact (full rewrite) materializes: vectors drop
    t.compact()
    assert(t.history.last.dvs.isEmpty)
    assert(t.read.count() === 40)
    // overwrite clears any vectors outright
    t.deleteVectors($"k" === 3)
    t.overwrite(Seq((1L, "x")).toDF("k", "v"))
    assert(t.history.last.dvs.isEmpty)
    assert(t.read.count() === 1)
  }

  test("vacuum reclaims unreferenced deletion vectors; restore revives them") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-dvvac-"))
    t.append(spark.range(0, 50).toDF("id"))
    t.deleteVectors($"id" < 10)          // v1: dv
    val dvId = t.history.last.dvs.head
    t.restore(0)                          // v2: vector-free again
    assert(t.read.count() === 50)
    t.restore(1)                          // v3: the vector is BACK
    assert(t.read.count() === 40)
    assert(t.history.last.dvs === Seq(dvId))
    t.vacuum(retainVersions = 1)          // keeps v3's dv
    assert(t.read.count() === 40)
    t.overwrite(spark.range(0, 5).toDF("id"))
    t.vacuum(retainVersions = 1)          // dv now unreferenced: reclaimed
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(t.root, "_dv", dvId)))
  }

  test("delete keeps NULL-predicate rows (SQL DELETE semantics)") {
    val t = VersionedTable(spark, tmpDir("vt-delnull-"))
    t.append(Seq(Some(1), Some(2), None).toDF("v"))
    t.delete($"v" === 2)
    assert(t.read.as[Option[Int]].collect().toSet === Set(Some(1), None))
  }

  test("compactZOrder: range reads on EITHER column skip file-sets") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-z-"))
    // 64x64 grid: a linear sort on x would cluster only x
    val grid = spark.range(64 * 64) // "/" is double division in Spark SQL
      .select((col("id") % 64).as("x"), floor(col("id") / 64).as("y"))
    t.append(grid)
    t.compactZOrder(Seq("x", "y"), numFileSets = 16)
    assert(t.history.last.action === "zorder")
    assert(t.read.count() === 64 * 64)
    val total = t.read.inputFiles.length
    val xFiles = t.readRange("x", "10", "13").inputFiles.length
    val yFiles = t.readRange("y", "10", "13").inputFiles.length
    assert(t.readRange("x", "10", "13").count() === 4 * 64)
    assert(t.readRange("y", "10", "13").count() === 4 * 64)
    assert(xFiles < total && yFiles < total,
      s"z-order skipped nothing: x=$xFiles y=$yFiles total=$total")
  }

  test("partition×bucket COW: merge rewrites only the touched (date, bucket) cell") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-pb-"))
    val base = spark.range(100).select(col("id"),
      when(col("id") < 50, "2025-08-11").otherwise("2025-08-12")
        .as("snapshot_date"),
      lit("x").as("v"))
    t.merge(base, Seq("id"), numBuckets = 4,
      partitionBy = Seq("snapshot_date"))
    val before = t.history.last.fileSets
    assert(before.nonEmpty && before.forall(_.matches(""".*\.p[^.]*\.b\d+$""")),
      s"expected partition-bucketed file-sets, got $before")
    assert(before.size > 4, s"expected per-(date,bucket) cells, got $before")

    // update ONE key in ONE date: exactly one (date, bucket) cell rewrites
    t.merge(Seq((5L, "2025-08-11", "updated"))
      .toDF("id", "snapshot_date", "v"), Seq("id"))
    val after = t.history.last.fileSets
    assert(after.toSet.diff(before.toSet).size === 1,
      s"expected 1 rewritten cell: before=$before after=$after")
    assert(after.toSet.intersect(before.toSet).size === before.size - 1)
    assert(t.read.filter(col("id") === 5).select("v").as[String]
      .collect().toSet === Set("updated"))
    assert(t.read.count() === 100)

    // insert-only merge into a NEW date: staged files adopt directly,
    // every pre-existing file-set carries
    t.merge(spark.range(200, 220).select(col("id"),
      lit("2025-08-13").as("snapshot_date"), lit("y").as("v")), Seq("id"))
    val afterIns = t.history.last.fileSets
    assert(after.toSet.subsetOf(afterIns.toSet),
      s"insert-only merge must carry all: $after vs $afterIns")
    assert(t.read.count() === 120)

    // AND a date-range read prunes the other dates' file-sets by NAME
    val pruned = t.readRange("snapshot_date", "2025-08-12", "2025-08-12")
    assert(pruned.count() === 50)
    assert(pruned.inputFiles.length < t.read.inputFiles.length,
      "partition tag in the file-set name must prune the scan")

    // point lookup: the partition hint narrows the scan from the key's
    // bucket across ALL dates to just the named date's cell
    val unhinted = t.readForKeys(Seq(Seq(5L)))
    val hinted = t.readForKeys(Seq(Seq(5L)), Some(Seq(Seq("2025-08-11"))))
    assert(hinted.select("v").as[String].collect().toSet === Set("updated"))
    assert(hinted.inputFiles.length < unhinted.inputFiles.length,
      "partition hint must prune cells of other dates")

    // same-schema cells from MANY writes still fold into ONE multi-path
    // scan (folding groups on the schema tag, not the write id) — a
    // 10k-merge table must not plan a 10k-arm union
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = t.read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.length === 1,
      s"expected one folded scan over all cells, got ${scans.length}")
  }

  test("compact and deleteRange preserve hive partition layout (plan-pinned)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = VersionedTable(spark, tmpDir("vt-keep-layout-"))
    val day = (d: String, n0: Int, n1: Int) => spark.range(n0.toLong, n1.toLong)
      .select(col("id"), lit(d).as("snapshot_date"))
    t.append(day("2025-08-11", 0, 10), partitionBy = Seq("snapshot_date"))
    t.append(day("2025-08-12", 10, 30), partitionBy = Seq("snapshot_date"))
    t.compact()
    def assertPruned(expectRows: Long): Unit = {
      val q = t.read.filter(col("snapshot_date") === "2025-08-12")
      assert(q.count() === expectRows)
      val plan = q.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[isnotnull\\(snapshot_date[^\\]]*= 2025-08-12"
        .r.findFirstIn(plan).isDefined,
        s"partition pruning lost after rewrite:\n$plan")
      val read = q.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.selectedPartitions.totalNumberOfFiles
      }.sum
      assert(read < t.read.inputFiles.length,
        "pruned scan must touch fewer files than the full table")
    }
    assertPruned(20)
    // a ranged delete must also re-apply the layout to its rewrite
    t.deleteRange("id", "0", "4")
    assert(t.read.count() === 25)
    assertPruned(20)
    // flat overwrite clears the recorded layout; rewrites stop partitioning
    t.overwrite(day("2025-08-12", 0, 5))
    t.compact()
    assert(t.read.count() === 5)
  }

  test("overwrite on a partition-bucketed table keeps the cell layout") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-pow-"))
    val rows = (d: String, ids: Seq[Long]) => ids.toDF("id")
      .select(col("id"), lit(d).as("snapshot_date"))
    t.merge(rows("2025-08-11", 0L to 9L), Seq("id"), numBuckets = 2,
      partitionBy = Seq("snapshot_date"))
    t.overwrite(rows("2025-08-12", 100L to 119L))
    assert(t.read.count() === 20)
    assert(t.history.last.fileSets.forall(_.matches(""".*\.p[^.]*\.b\d+$""")),
      s"overwrite must stay cell-split: ${t.history.last.fileSets}")
    // and a later merge is still copy-on-write over the new snapshot
    val before = t.history.last.fileSets
    t.merge(rows("2025-08-12", Seq(100L)), Seq("id"))
    assert(t.history.last.fileSets.toSet.intersect(before.toSet).size ===
      before.size - 1)
    // mismatched partitionBy is refused, not silently accepted
    assertThrows[IllegalArgumentException](
      t.overwrite(rows("2025-08-12", Seq(1L)), partitionBy = Seq("other")))
  }

  test("concurrent appends rebase onto the winner's snapshot: no lost updates") {
    val t = VersionedTable(spark, tmpDir("vt-occ-append-"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { t.append(Seq((i, s"w$i")).toDF("id", "v")); () }
        })
      }
      futs.foreach(_.get()) // propagates any worker failure
    } finally pool.shutdown()
    // every writer's row AND every writer's commit must survive: with the
    // old rename-over commit, racing appends clobber each other's log
    // entry (last-writer-wins) and rows vanish from the final snapshot
    assert(t.latestVersion === Some(7L))
    assert(t.read.count() === 8)
    assert(t.history.last.fileSets.length === 8)
  }

  test("a stale read-modify-write commit is refused, not silently clobbered") {
    val t = VersionedTable(spark, tmpDir("vt-occ-stale-"))
    t.append(Seq((1, "a")).toDF("id", "v")) // v0
    // a commit derived from a snapshot the table has moved past (here:
    // derived from the empty table while v0 exists) must throw — this is
    // the merge/delete/compact lost-update guard
    assertThrows[java.util.ConcurrentModificationException](
      t.commit("merge", Seq(), basedOn = None))
    // while one derived from the CURRENT snapshot commits normally
    val e = t.commit("compact", t.history.last.fileSets, basedOn = Some(0L))
    assert(e.version === 1L)
    assert(t.read.count() === 1)
  }

  test("txn markers make replayed batches exactly-once (Delta txnAppId/txnVersion)") {
    val t = VersionedTable(spark, tmpDir("vt-txn-"))
    val app = "ingest-job"
    t.append(Seq((1, "a")).toDF("id", "v"), txn = Some((app, 0L)))
    // replay of batch 0: metadata no-op — no new version, no duplicate rows
    val replay = t.append(Seq((1, "a")).toDF("id", "v"), txn = Some((app, 0L)))
    assert(t.latestVersion === Some(0L))
    assert(replay.version === 0L)
    assert(t.read.count() === 1)
    // the ledger is per-app: another writer's batch 0 still applies
    t.append(Seq((2, "b")).toDF("id", "v"), txn = Some(("other-job", 0L)))
    assert(t.read.count() === 2)
    assert(t.lastTxnVersion(app) === Some(0L))

    // the real hazard: an increment-merge (updateExprs) replay would
    // double-count without the ledger
    val t2 = VersionedTable(spark, tmpDir("vt-txn-merge-"))
    val bump = Map[String, (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column) => org.apache.spark.sql.Column](
      "cnt" -> ((tc, uc) => tc + uc))
    t2.merge(Seq((1, 5L)).toDF("id", "cnt"), Seq("id"), numBuckets = 2,
      updateExprs = bump, txn = Some((app, 0L)))
    t2.merge(Seq((1, 5L)).toDF("id", "cnt"), Seq("id"), numBuckets = 2,
      updateExprs = bump, txn = Some((app, 1L)))
    assert(t2.read.select("cnt").as[Long].head() === 10L)
    t2.merge(Seq((1, 5L)).toDF("id", "cnt"), Seq("id"), numBuckets = 2,
      updateExprs = bump, txn = Some((app, 1L))) // replayed batch 1: no-op
    assert(t2.read.select("cnt").as[Long].head() === 10L)
    assert(t2.lastTxnVersion(app) === Some(1L))
  }

  test("a txn app id holding quotes, a backslash, a tab and ']' keeps the " +
       "table readable and replay-safe, through a checkpoint and a " +
       "prepared commit") {
    val app = "job \"nightly\" \\ run\t]"
    val t = VersionedTable(spark, tmpDir("vt-txn-quoted-"))
    t.append(Seq((1, "a")).toDF("id", "v"), txn = Some((app, 0L)))
    def readableAndIdempotent(): Unit = {
      assert(t.history.map(_.txn) === Seq(Some((app, 0L))))
      assert(t.read.count() === 1)
      assert(t.lastTxnVersion(app) === Some(0L))
      val replay = t.append(Seq((1, "a")).toDF("id", "v"), txn = Some((app, 0L)))
      assert(replay.version === 0L && t.latestVersion === Some(0L))
      assert(t.read.count() === 1)
    }
    readableAndIdempotent()
    t.checkpointLog()
    readableAndIdempotent()

    val m = VersionedTable(spark, tmpDir("vt-txn-quoted-prep-"))
    m.merge(Seq((1, "a")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    val pc = m.mergePrepared(Seq((2, "b")).toDF("k", "v"), Seq("k"),
      numBuckets = 2, txn = Some((app, 1L))).get
    val back = VersionedTable.PreparedCommit.fromJson(pc.toJson)
    assert(back === pc)
    m.commitPrepared(back)
    assert(m.lastTxnVersion(app) === Some(1L))
    assert(m.read.as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
    val head = m.latestVersion
    m.commitPrepared(back) // replayed intent: the marker makes it a no-op
    assert(m.latestVersion === head)
  }

  test("metadata that needs JSON escapes is written marked and reads back; " +
       "an undecodable pin fails loudly") {
    val t = VersionedTable(spark, tmpDir("vt-escaped-"))
    t.append(Seq(("12", "a")).toDF("d", "s"))
    t.addCheck("digits", """d RLIKE '^\\d+$'""")
    t.setProperties(Map("note" -> "C:\\temp\tx"))
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(t.root,
      "_checks.json")) === """{"checks":[{"name":"digits",""" +
      """"expr":"d RLIKE '^\\\\d+$'"}],"escaped":true}""")
    assert(t.checks === Seq(("digits", """d RLIKE '^\\d+$'""")))
    assert(t.properties === Map("note" -> "C:\\temp\tx"))
    intercept[Throwable](t.append(Seq(("x", "b")).toDF("d", "s")))
    assert(t.read.count() === 1L)

    t.setPinAt("cdc:/ck\\x", 0L, 1L)
    assert(t.pinsDetail === Map("cdc:/ck\\x" -> ((0L, 1L))))
    val pin = java.nio.file.Files.list(java.nio.file.Paths.get(t.root, "_pins"))
      .iterator().asScala.toList.head
    java.nio.file.Files.writeString(pin, "{\"name\":")
    val e = intercept[RuntimeException](t.pinsDetail)
    assert(e.getMessage.contains("bad record"), e.getMessage)
  }

  test("CHECK constraints refuse violating writes, Delta-style") {
    val t = VersionedTable(spark, tmpDir("vt-check-"))
    t.append(Seq((1, 10L)).toDF("id", "price"))
    t.addCheck("price_nonneg", "price >= 0")
    // a check the current snapshot violates is refused at DDL time
    assertThrows[IllegalStateException](t.addCheck("bad", "price > 100"))
    assert(t.checks === Seq(("price_nonneg", "price >= 0")))
    // a violating append fails inside the write job; nothing commits
    val vBefore = t.latestVersion
    val ex = intercept[Exception](t.append(Seq((2, -5L)).toDF("id", "price")))
    assert(ex.getMessage != null || ex.getCause != null) // raised from the job
    assert(t.latestVersion === vBefore)
    assert(t.read.count() === 1)
    // NULL predicate passes (SQL CHECK semantics: unknown is not false)
    t.append(Seq((3, Option.empty[Long])).toDF("id", "price"))
    assert(t.read.count() === 2)
    // dropCheck lifts enforcement
    t.dropCheck("price_nonneg")
    t.append(Seq((4, -1L)).toDF("id", "price"))
    assert(t.read.count() === 3)

    // the updateExprs post-image is enforced too: neither input side
    // violates, but the combined value does
    val t2 = VersionedTable(spark, tmpDir("vt-check-merge-"))
    t2.merge(Seq((1, 5L)).toDF("id", "price"), Seq("id"), numBuckets = 2)
    t2.addCheck("nonneg", "price >= 0")
    val drain = Map[String, (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column) => org.apache.spark.sql.Column](
      "price" -> ((tc, uc) => tc - uc))
    intercept[Exception](t2.merge(Seq((1, 10L)).toDF("id", "price"),
      Seq("id"), updateExprs = drain)) // 5 - 10 = -5 violates
    assert(t2.read.select("price").as[Long].head() === 5L)
    t2.merge(Seq((1, 3L)).toDF("id", "price"), Seq("id"),
      updateExprs = drain) // 5 - 3 = 2 passes
    assert(t2.read.select("price").as[Long].head() === 2L)
  }

  test("shallowCloneTo carries the column mapping (versions re-based)") {
    import org.apache.spark.sql.functions.col
    val t = VersionedTable(spark, tmpDir("vt-clone-cm-"))
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.renameColumn("v", "val") // source rename at v1; clone history restarts
    val c = t.shallowCloneTo(tmpDir("vt-clone-cm-dst-"))
    // without re-basing, the mapping (recorded at source v1) would sit in
    // the clone's future and old physical names would silently resurface
    assert(c.read.columns.toSeq === Seq("k", "val"))
    assert(c.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
    // post-clone appends + further renames work on the clone alone
    c.append(Seq((3, "c")).toDF("k", "val"))
    c.renameColumn("val", "value")
    assert(c.read.columns.toSeq === Seq("k", "value"))
    assert(c.read.count() === 3)
    assert(t.read.columns.toSeq === Seq("k", "val")) // source untouched
    assert(t.read.filter(col("val") === "c").count() === 0)
  }

  test("shallowCloneTo: zero-copy clone diverges independently of the source") {
    val t = VersionedTable(spark, tmpDir("vt-clone-src-"))
    t.merge(Seq((1, "a"), (2, "b")).toDF("id", "v"), Seq("id"), numBuckets = 2)
    t.addCheck("id_pos", "id > 0")
    val c = t.shallowCloneTo(tmpDir("vt-clone-dst-"))
    assert(c.read.as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
    assert(c.bucketSpec === t.bucketSpec)
    assert(c.checks === Seq(("id_pos", "id > 0")))
    // zero-copy: the clone's parquet files are hard links (shared inode)
    val aClonedParquet = java.nio.file.Files
      .walk(java.nio.file.Paths.get(c.root, "data"))
      .iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    assert(java.nio.file.Files
      .getAttribute(aClonedParquet, "unix:nlink").asInstanceOf[Int] >= 2)
    // divergence: writes to the clone never touch the source (and the
    // cloned CHECK still enforces)
    c.merge(Seq((3, "c")).toDF("id", "v"), Seq("id"))
    assert(c.read.count() === 3)
    assert(t.read.count() === 2)
    intercept[Exception](c.append(Seq((-1, "x")).toDF("id", "v")))
    // source rewrite + vacuum reclaims ITS dirs; the clone keeps reading
    // the shared immutable inodes through its own links
    t.overwrite(Seq((9, "z")).toDF("id", "v"))
    t.vacuum(retainVersions = 1)
    assert(c.read.count() === 3)
    // a target with committed versions is refused
    assertThrows[IllegalArgumentException](t.shallowCloneTo(c.root))
  }

  test("compactPartitions coalesces only the named partitions' cells") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-pcompact-"))
    val rows = (d: String, ids: Seq[Long]) => ids.toDF("id")
      .select(col("id"), lit(d).as("snapshot_date"))
    // a merge bootstrap + two appends → several file-sets per cell
    // (appends add new cell file-sets; they never rewrite existing ones)
    t.merge(rows("2025-08-11", 0L to 19L)
      .unionByName(rows("2025-08-12", 100L to 119L)), Seq("id"),
      numBuckets = 2, partitionBy = Seq("snapshot_date"))
    t.append(rows("2025-08-11", 20L to 29L)
      .unionByName(rows("2025-08-12", 120L to 129L)))
    t.append(rows("2025-08-11", 30L to 39L)
      .unionByName(rows("2025-08-12", 130L to 139L)))
    val before = t.history.last.fileSets
    t.compactPartitions(Seq(Seq("2025-08-11")))
    val after = t.history.last.fileSets
    // the other date's file-sets carried verbatim
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.nonEmpty, "2025-08-12 cells must carry")
    assert(carried.forall(_.contains("." + "p")),
      s"carried sets must be cells: $carried")
    // compacted date coalesces: one file-set per touched cell
    val rewrittenBefore = before.toSet.diff(after.toSet)
    val rewrittenAfter = after.toSet.diff(before.toSet)
    assert(rewrittenAfter.size < rewrittenBefore.size,
      s"cells must coalesce: $rewrittenBefore -> $rewrittenAfter")
    // data intact, pruning intact
    assert(t.read.count() === 80)
    assert(t.readRange("snapshot_date", "2025-08-11", "2025-08-11").count() === 40)

    // NULL-partition rows land in sentinel (pN) cells, which scoped
    // compaction must CARRY — rewriting them every night would never
    // converge and break the O(named partitions) cost promise
    val tn = VersionedTable(spark, tmpDir("vt-pcompact-null-"))
    tn.merge(rows("2025-08-11", 0L to 9L)
      .unionByName((100L to 109L).toDF("id")
        .select(col("id"), lit(null).cast("string").as("snapshot_date"))),
      Seq("id"), numBuckets = 2, partitionBy = Seq("snapshot_date"))
    val nullCells = tn.history.last.fileSets.filter(_.contains(".pN."))
    assert(nullCells.nonEmpty, s"expected pN cells: ${tn.history.last.fileSets}")
    tn.compactPartitions(Seq(Seq("2025-08-11")))
    assert(nullCells.forall(tn.history.last.fileSets.contains),
      "NULL-partition cells must carry through scoped compaction")
    assert(tn.read.count() === 20)
  }

  test("changedPartitionsSince reports exactly the touched partitions, or None") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-chgp-"))
    val rows = (d: String, ids: Seq[Long]) => ids.toDF("id")
      .select(col("id"), lit(d).as("snapshot_date"))
    t.merge(rows("2025-08-11", 0L to 9L)
      .unionByName(rows("2025-08-12", 10L to 19L)), Seq("id"),
      numBuckets = 4, partitionBy = Seq("snapshot_date"))
    val v0 = t.latestVersion.get
    assert(t.changedPartitionsSince(v0) === Some(Nil)) // nothing yet
    // a merge touching only 2025-08-12 reports only that partition
    t.merge(rows("2025-08-12", Seq(11L, 99L)), Seq("id"))
    assert(t.changedPartitionsSince(v0) === Some(Seq(Seq("2025-08-12"))))
    assert(t.read.count() === 21)
    // a fully-deleted partition must still be reported (it appears on the
    // REMOVED side of the diff; added-only reporting would miss it and a
    // downstream MV would serve the stale aggregate forever)
    t.delete(col("snapshot_date") === "2025-08-11")
    assert(t.changedPartitionsSince(v0).exists(_.contains(Seq("2025-08-11"))))
    val t2 = VersionedTable(spark, tmpDir("vt-chgp2-"))
    t2.merge(rows("2025-08-11", 0L to 4L), Seq("id"),
      numBuckets = 4, partitionBy = Seq("snapshot_date"))
    val w0 = t2.latestVersion.get
    t2.merge(Seq.empty[(Long, String)].toDF("id", "snapshot_date"), Seq("id"))
    // empty merge carries prev file-sets: still no changes
    assert(t2.changedPartitionsSince(w0) === Some(Nil))
    // an unparseable NEW file-set (empty append's untagged fallback) in
    // the diff forces the conservative None → caller does a full recompute
    t2.append(Seq.empty[(Long, String)].toDF("id", "snapshot_date"))
    assert(t2.changedPartitionsSince(w0) === None)
  }

  test("drop-and-recreate at the same root never resurrects stale log metadata") {
    val root = tmpDir("vt-recreate-")
    val t = VersionedTable(spark, root)
    t.append(Seq(1, 2).toDF("id"))
    assert(t.read.count() === 2)
    // drop exactly like Catalog.dropTable: delete the whole root; a later
    // recreate writes version 0 at the IDENTICAL log path, so a path-only
    // parse cache would serve the dropped table's entry (file-sets
    // pointing at deleted dirs)
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala.toList.foreach(rm) finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(root))
    val t2 = VersionedTable(spark, root)
    assert(!t2.exists)
    t2.append(Seq(9).toDF("id"))
    assert(t2.latestVersion === Some(0L))
    assert(t2.read.as[Int].collect().toSet === Set(9))
  }

  test("empty merge batches handle legacy and partitioned-fallback file-sets") {
    import org.apache.spark.sql.functions._
    // legacy unbucketed file-set + empty FIRST merge: must migrate, not
    // crash on an unreadable empty staging dir
    val t = VersionedTable(spark, tmpDir("vt-emptymig-"))
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.merge(Seq.empty[(Int, String)].toDF("id", "v"), Seq("id"))
    assert(t.read.as[(Int, String)].collect().toSet === Set((1, "a")))
    // partitioned table bootstrapped from an EMPTY batch (untagged
    // fallback file-set), then a real merge: fallback must be rewritten
    // into proper cells, not carried forever
    val t2 = VersionedTable(spark, tmpDir("vt-emptyboot-"))
    t2.merge(Seq.empty[(Long, String, String)].toDF("id", "snapshot_date", "v"),
      Seq("id"), numBuckets = 4, partitionBy = Seq("snapshot_date"))
    assert(t2.read.count() === 0)
    t2.merge(Seq((1L, "2025-08-11", "a")).toDF("id", "snapshot_date", "v"),
      Seq("id"))
    assert(t2.read.as[(Long, String, String)].collect().toSet ===
      Set((1L, "2025-08-11", "a")))
    assert(t2.history.last.fileSets.forall(_.matches(""".*\.p[^.]*\.b\d+$""")),
      s"fallback must rewrite into cells: ${t2.history.last.fileSets}")
  }

  test("detailDf exposes DESCRIBE DETAIL metadata for the current snapshot") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-detail-"))
    val rows = (d: String, ids: Seq[Long]) => ids.toDF("id")
      .select(col("id"), lit(d).as("snapshot_date"))
    t.merge(rows("2025-08-11", 0L to 9L), Seq("id"), numBuckets = 2,
      partitionBy = Seq("snapshot_date"))
    val d = t.detailDf.select("version", "num_file_sets", "num_buckets",
      "bucket_keys", "partition_columns")
      .as[(Long, Long, Int, String, String)].head()
    assert(d._1 === 0L)
    assert(d._2 === t.history.last.fileSets.length.toLong)
    assert(d._3 === 2)
    assert(d._4 === "id")
    assert(d._5 === "snapshot_date")
    assert(t.detailDf.select("size_bytes").as[Long].head() > 0L)
    // table-feature columns reflect declared state
    t.enableChangeFeed()
    t.addCheck("id_pos", "id >= 0")
    t.deleteVectors(col("id") === 3L)
    assert(t.detailDf.select("num_deletion_vectors", "change_feed_enabled",
      "num_checks", "num_generated_columns")
      .as[(Int, Boolean, Int, Int)].head() === ((1, true, 1, 0)))
  }

  test("vacuumDryRun previews exactly what vacuum reclaims") {
    val t = VersionedTable(spark, tmpDir("vt-vacdry-"))
    t.append(Seq(1).toDF("id"))
    t.overwrite(Seq(2).toDF("id"))
    val preview = t.vacuumDryRun(retainVersions = 1)
    assert(preview.nonEmpty && preview.forall(_.startsWith("data/")))
    preview.foreach(rel => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(t.root).resolve(rel)), s"$rel must exist pre-vacuum"))
    t.vacuum(retainVersions = 1)
    preview.foreach(rel => assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(t.root).resolve(rel)), s"$rel must be reclaimed"))
    assert(t.read.as[Int].collect().toSeq === Seq(2))
    assert(t.vacuumDryRun(retainVersions = 1).isEmpty)
  }

  test("vacuumDryRunClassified partitions the pin-ignoring radius in one pass") {
    val t = VersionedTable(spark, tmpDir("vt-vaccls-"))
    t.append(Seq(1).toDF("id"))         // v0: set A — below the pin floor
    t.overwrite(Seq(2).toDF("id"))      // v1: set B — held by the pin
    t.overwrite(Seq(3).toDF("id"))      // v2: set C — retained head
    t.setPin("mv:/consumers/stale", 1L) // holds versions >= 1
    val classified = t.vacuumDryRunClassified(retainVersions = 1)
    // both dry-run views must be EXACT projections of the single pass —
    // that is the whole point: no second listing that can skew
    assert(classified.filter(_._2).map(_._1) ===
      t.vacuumDryRun(retainVersions = 1))
    assert(classified.map(_._1) ===
      t.vacuumDryRun(retainVersions = 1, respectPins = false))
    // the pin splits the radius: v0's set reclaims, v1/v2's are held
    assert(classified.exists(_._2) && classified.exists(!_._2),
      s"expected a mixed classification, got $classified")
  }

  test("an abandoned prepared merge is invisible and vacuum-reclaimable") {
    val t = VersionedTable(spark, tmpDir("vt-prep-"))
    t.merge(Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    val v0 = t.latestVersion.get
    // prepare-and-crash: files land under final names, no log entry
    val pc = t.mergePrepared(Seq((2, "B"), (3, "c")).toDF("k", "v"),
      Seq("k"), numBuckets = 2, txn = Some(("prep-test", 1L))).get
    assert(t.latestVersion.get === v0)
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")), "prepared data must be invisible")
    // the orphaned file-sets reclaim once past the staging grace window
    // (they are tracked by NO committed version)
    val dataDir = java.nio.file.Paths.get(t.root, "data")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - VersionedTable.StagingGraceMillis - 60000)
    java.nio.file.Files.list(dataDir).forEach { p =>
      java.nio.file.Files.setLastModifiedTime(p, old); () }
    val preview = t.vacuumDryRun(retainVersions = 1).toSet
    assert(pc.produced.forall(fs => preview.contains(s"data/$fs")),
      s"abandoned prepared sets must be reclaimable: $preview")
    // committing the prepared entry WOULD have applied it — on a fresh
    // prepare (this one's files were just aged for the vacuum check)
    val pc2 = t.mergePrepared(Seq((4, "d")).toDF("k", "v"), Seq("k"),
      numBuckets = 2, txn = Some(("prep-test2", 1L))).get
    t.commitPrepared(pc2)
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (4, "d")))
  }

  test("change feed bootstraps from a populated clone (inserts, DVs applied)") {
    val src = VersionedTable(spark, tmpDir("vt-clonecdf-src-"))
    src.enableChangeFeed()
    src.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    src.deleteVectors(org.apache.spark.sql.functions.col("id") === 3) // deleted BEFORE the clone
    val c = src.shallowCloneTo(tmpDir("vt-clonecdf-dst-"))
    // the clone base commit must synthesize its contents as inserts (DV
    // applied: id 3 never existed here), not a silently empty feed
    val feed = c.readChangeFeed(-1)
      .select($"_change_type", $"id", $"v")
      .as[(String, Int, String)].collect().toSet
    assert(feed === Set(("insert", 1, "a"), ("insert", 2, "b")))
    // later DML on the clone stacks on top of the bootstrap
    c.append(Seq((4, "d")).toDF("id", "v"))
    assert(c.readChangeFeed(-1).count() === 3)
  }

  test("vacuum age-gates staging: live writers' dirs survive, orphans go") {
    val t = VersionedTable(spark, tmpDir("vt-vacstage-"))
    t.append(Seq(1).toDF("id"))
    val staging = java.nio.file.Paths.get(t.root, "_staging")
    java.nio.file.Files.createDirectories(staging.resolve("live-writer"))
    java.nio.file.Files.createDirectories(staging.resolve("crashed-orphan"))
    java.nio.file.Files.setLastModifiedTime(staging.resolve("crashed-orphan"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - VersionedTable.StagingGraceMillis - 60000))
    val preview = t.vacuumDryRun()
    assert(preview.contains("_staging/crashed-orphan"))
    assert(!preview.contains("_staging/live-writer"),
      "a fresh (in-flight) staging dir must not be reclaimable")
    t.vacuum()
    assert(java.nio.file.Files.exists(staging.resolve("live-writer")))
    assert(java.nio.file.Files.notExists(staging.resolve("crashed-orphan")))
  }

  test("change feed survives a symlinked table root (no prefix anchor)") {
    import java.nio.file.{Files => JF, Paths => JP}
    val real = tmpDir("vt-symreal-")
    val t0 = VersionedTable(spark, real)
    t0.enableChangeFeed()
    t0.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))          // v0
    t0.merge(Seq((2, "b2"), (3, "c")).toDF("k", "v"), Seq("k")) // v1
    // read THROUGH a symlink: _metadata.file_path may render a different
    // prefix than the caller's root — a prefix-anchored dir extraction
    // would match nothing and the feed would come back silently empty
    val link = JP.get(tmpDir("vt-symlink-")).resolve("root")
    JF.createSymbolicLink(link, JP.get(real))
    val t = VersionedTable(spark, link.toString)
    assert(t.read.count() === 3)
    val feed = t.readChangeFeed(-1)
      .select("_commit_version", "_change_type", "k", "v")
      .as[(Long, String, Int, String)].collect().toSet
    assert(feed === Set(
      (0L, "insert", 1, "a"), (0L, "insert", 2, "b"),
      (1L, "update_preimage", 2, "b"), (1L, "update_postimage", 2, "b2"),
      (1L, "insert", 3, "c")))
  }

  test("vacuum racing in-flight DML never reclaims a live write") {
    // Maintenance alongside DML is the first thing a production user
    // does. Every writer renames its finished file-set into data/
    // BEFORE appending the log entry, so a concurrent vacuum observes
    // untracked names mid-commit — the StagingGraceMillis age gate must
    // keep them alive (an untracked name younger than the grace window
    // is a live writer's, not a crashed writer's orphan).
    val t = VersionedTable(spark, tmpDir("vt-occ-vacuum-"))
    t.append(Seq((0, "seed")).toDF("id", "v"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val vac = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        var n = 0
        while (!stop.get()) { t.vacuum(retainVersions = 1); n += 1 }
        n
      }
    })
    try {
      // merges + an append + a delete: every DML flavor that renames
      // data in before committing, racing a tight vacuum loop
      (1 to 5).foreach(i =>
        t.merge(Seq((i, s"m$i"), (0, s"seed$i")).toDF("id", "v"), Seq("id")))
      t.append(Seq((9, "a9")).toDF("id", "v"))
      t.delete($"id" === 5)
    } finally {
      stop.set(true)
      assert(vac.get() > 0, "vacuum must actually have raced the DML")
      pool.shutdown()
    }
    // no committed version points at vanished data; every write survived
    assert(t.read.as[(Int, String)].collect().toMap ===
      Map(0 -> "seed5", 1 -> "m1", 2 -> "m2", 3 -> "m3", 4 -> "m4",
        9 -> "a9"))
    // a final quiescent vacuum drains what the racing loop missed (the
    // last DML's superseded sets), and the table still reads intact —
    // live data was never on the reclaim list
    t.vacuum(retainVersions = 1)
    assert(t.vacuumDryRun(retainVersions = 1).isEmpty)
    assert(t.read.count() === 6)
  }

  test("compactSmall measures data bytes only, not skipping sidecars") {
    val t = VersionedTable(spark, tmpDir("vt-compactbloom-"))
    // two tiny file-sets, each carrying a ~0.9 MB bloom sidecar: with
    // sidecars counted they would read as 'large' and never fold
    t.append(Seq((1L, "a")).toDF("id", "v"), bloomFor = Seq("id"))
    t.append(Seq((2L, "b")).toDF("id", "v"), bloomFor = Seq("id"))
    val folded = t.compactSmall(maxBytes = 256 * 1024)
    assert(folded.action === "compact")
    assert(folded.fileSets.length === 1,
      s"expected one folded file-set, got ${folded.fileSets.length}")
    assert(t.read.count() === 2)
  }

  test("bloom point lookups survive a session timezone change (timestamps)") {
    val t = VersionedTable(spark, tmpDir("vt-bloomtz-"))
    val ts = java.sql.Timestamp.valueOf("2025-08-12 06:15:00")
    t.append(Seq((1L, ts)).toDF("id", "ts")
      .unionByName(Seq((2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("id", "ts")), bloomFor = Seq("ts"))
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "Australia/Sydney")
      // a zone-dependent hash basis would bloom-skip the file-set here
      // (false negative = silently missing rows)
      assert(t.readEquals("ts", Seq(ts)).count() === 1)
    } finally spark.conf.set(tzKey, prev)
  }

  test("bloom sidecar versioning: legacy timestamp sidecars never skip rows") {
    import java.nio.file.{Files, Paths}
    val t = VersionedTable(spark, tmpDir("vt-bloomv2-"))
    val ts1 = java.sql.Timestamp.valueOf("2025-08-12 06:15:00")
    val ts2 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    t.append(Seq((1L, ts1)).toDF("id", "ts"), bloomFor = Seq("id", "ts"))
    t.append(Seq((2L, ts2)).toDF("id", "ts"), bloomFor = Seq("id", "ts"))
    val fsDirs = Files.list(Paths.get(t.root, "data")).iterator().asScala
      .filter(Files.isDirectory(_)).toSeq
    assert(fsDirs.nonEmpty)
    // new writes carry the VERSIONED sidecar name
    fsDirs.foreach { d =>
      assert(Files.exists(d.resolve("_fbloom2.id")), s"$d missing _fbloom2.id")
      assert(Files.exists(d.resolve("_fbloom2.ts")), s"$d missing _fbloom2.ts")
    }
    // Simulate a pre-upgrade build: legacy-NAMED `_fbloom.<col>` sidecars
    // whose TIMESTAMP basis was cast-to-string. An EMPTY sketch is the
    // adversarial stand-in — every probe misses, so IF the reader
    // consulted it, file-sets that DO hold matching rows would be
    // silently skipped (the exact bug the version marker prevents).
    val emptyBf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    val emptyBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      emptyBf.writeTo(bos); bos.toByteArray
    }
    fsDirs.foreach { d =>
      Files.write(d.resolve("_fbloom.ts"), emptyBytes)
      Files.delete(d.resolve("_fbloom2.ts")) // ts: ONLY legacy remains
    }
    // legacy TIMESTAMP sidecar treated as absent: scan, never skip
    assert(t.readEquals("ts", Seq(ts1)).as[(Long, java.sql.Timestamp)]
      .collect().map(_._1).toSeq === Seq(1L))
    assert(t.readEquals("ts", Seq(ts2)).count() === 1)
    // non-TIMESTAMP columns share the basis across generations: a
    // legacy-named sidecar (here the real v2 bytes renamed) still finds
    // rows AND still prunes
    fsDirs.foreach(d => Files.move(d.resolve("_fbloom2.id"),
      d.resolve("_fbloom.id")))
    val probe = t.readEquals("id", Seq(1L))
    assert(probe.as[(Long, java.sql.Timestamp)].collect().map(_._1).toSeq
      === Seq(1L))
    assert(probe.inputFiles.length < t.read.inputFiles.length,
      "legacy non-timestamp sidecar must still prune (same hash basis)")
    // maintenance upgrades coverage: a rewrite regenerates v2 sidecars
    // for columns that only had legacy ones
    t.compactSmall(maxBytes = 256 * 1024)
    val folded = Files.list(Paths.get(t.root, "data")).iterator().asScala
      .filter(Files.isDirectory(_)).toSeq
      .filter(d => Files.exists(d.resolve("_fbloom2.id")))
    assert(folded.nonEmpty, "rewrite must regenerate v2 bloom coverage")
    assert(folded.forall(d => Files.exists(d.resolve("_fbloom2.ts"))))
    assert(t.readEquals("ts", Seq(ts1)).count() === 1)
    assert(t.readEquals("id", Seq(2L)).count() === 1)
  }

  test("deletion vectors survive a symlinked table root") {
    import java.nio.file.{Files => JF, Paths => JP}
    val real = tmpDir("vt-dvsym-")
    val t0 = VersionedTable(spark, real)
    t0.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    t0.deleteVectors($"id" === 2)
    // open THROUGH a symlink: the reader renders file paths under a
    // prefix that differs from the writer's dataDir — a prefix-anchored
    // DV key extraction would yield "" for every row, the anti-join
    // would match nothing, and row id=2 would silently reappear
    val link = JP.get(tmpDir("vt-dvsymlink-")).resolve("root")
    JF.createSymbolicLink(link, JP.get(real))
    val t = VersionedTable(spark, link.toString)
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (3, "c")))
    // a DV WRITTEN through the symlinked open must key the same rows
    // the original-root open keys (suffix shape is prefix-invariant)
    t.deleteVectors($"id" === 3)
    assert(VersionedTable(spark, real).read.as[(Int, String)]
      .collect().toSet === Set((1, "a")))
  }

  test("skipping sidecars written through a symlinked open hit file-sets") {
    import java.nio.file.{Files => JF, Paths => JP}
    val real = tmpDir("vt-sidesym-")
    VersionedTable(spark, real).append(Seq((1L, "a")).toDF("id", "v"))
    val link = JP.get(tmpDir("vt-sidesymlink-")).resolve("root")
    JF.createSymbolicLink(link, JP.get(real))
    val t = VersionedTable(spark, link.toString)
    // write path: file-set ids are extracted from rendered file paths;
    // through a symlink a prefix anchor would extract "" and the
    // guarded writer would abort (pre-guard: scatter sidecars to a
    // bogus shared group)
    t.append(Seq((2L, "b")).toDF("id", "v"),
      statsFor = Seq("id"), bloomFor = Seq("id"))
    // backfill path (ANALYZE) through the same symlinked open
    assert(t.computeStats(Seq("id"), Seq("id")) >= 1)
    val fsDirs = JF.list(JP.get(real, "data")).iterator().asScala
      .filter(JF.isDirectory(_)).toSeq
    assert(fsDirs.nonEmpty)
    fsDirs.foreach { d =>
      assert(JF.exists(d.resolve("_fstats.tsv")), s"$d missing stats")
      assert(JF.exists(d.resolve("_fbloom2.id")), s"$d missing bloom")
    }
    assert(t.readEquals("id", Seq(2L)).count() === 1)
  }

  test("computeStats rejects unknown columns loudly") {
    val t = VersionedTable(spark, tmpDir("vt-statscol-"))
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // a typo'd column would otherwise 'succeed' forever: the sidecar
    // writer filters to real columns, so the bogus name never gains
    // coverage and every ANALYZE re-runs the full job claiming progress
    val e = intercept[IllegalArgumentException](t.computeStats(Seq("idd")))
    assert(e.getMessage.contains("no such column"))
    assert(e.getMessage.contains("idd"))
  }

  test("ANALYZE onlyMissing upgrades legacy timestamp bloom coverage") {
    import java.nio.file.{Files, Paths}
    val t = VersionedTable(spark, tmpDir("vt-bloomup-"))
    val ts1 = java.sql.Timestamp.valueOf("2025-08-12 06:15:00")
    val ts2 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    t.append(Seq((1L, ts1)).toDF("id", "ts"), bloomFor = Seq("id", "ts"))
    t.append(Seq((2L, ts2)).toDF("id", "ts"), bloomFor = Seq("id", "ts"))
    val fsDirs = Files.list(Paths.get(t.root, "data")).iterator().asScala
      .filter(Files.isDirectory(_)).toSeq
    // simulate a pre-upgrade build: only legacy-NAMED ts sidecars remain.
    // The reader never consults a legacy TIMESTAMP sidecar (pre-v2
    // string basis), so ANALYZE must treat it as MISSING coverage —
    // counting it as covered would make backfill a silent no-op while
    // point lookups scan the full table forever
    fsDirs.foreach { d =>
      Files.move(d.resolve("_fbloom2.ts"), d.resolve("_fbloom.ts"))
    }
    assert(t.computeStats(Nil, Seq("ts")) === fsDirs.length)
    fsDirs.foreach(d => assert(Files.exists(d.resolve("_fbloom2.ts"))))
    assert(t.computeStats(Nil, Seq("ts")) === 0, "backfill must converge")
    // a legacy NON-timestamp sidecar shares the hash basis across
    // generations: still valid coverage, not an ANALYZE target
    fsDirs.foreach { d =>
      Files.move(d.resolve("_fbloom2.id"), d.resolve("_fbloom.id"))
    }
    assert(t.computeStats(Nil, Seq("id")) === 0)
    assert(t.readEquals("ts", Seq(ts1)).count() === 1)
    assert(t.readEquals("id", Seq(2L)).count() === 1)
  }

  test("vacuum returns exactly the paths it reclaimed") {
    import java.nio.file.{Files, Paths}
    val t = VersionedTable(spark, tmpDir("vt-vacret-"))
    t.append(Seq(1, 2).toDF("id").repartition(2))
    t.overwrite(Seq(9).toDF("id"))
    val preview = t.vacuumDryRun(retainVersions = 1)
    val deleted = t.vacuum(retainVersions = 1)
    assert(deleted.nonEmpty)
    assert(deleted.toSet === preview.toSet)
    deleted.foreach(rel =>
      assert(Files.notExists(Paths.get(t.root).resolve(rel)), rel))
    assert(t.vacuum(retainVersions = 1).isEmpty)
    assert(t.read.as[Int].collect().toSet === Set(9))
  }

  test("writes under a ghost column name are rejected after RENAME/DROP DDL") {
    val t = VersionedTable(spark, tmpDir("vt-ghostw-"))
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.renameColumn("v", "val")
    // a producer still emitting the pre-rename name must fail loudly on
    // every write path — landing it would rebind the stale name through
    // the read-time mapping fold
    assertThrows[IllegalArgumentException](
      t.append(Seq((2, "b")).toDF("id", "v")))
    assertThrows[IllegalArgumentException](
      t.overwrite(Seq((2, "b")).toDF("id", "v")))
    assertThrows[IllegalArgumentException](
      t.merge(Seq((2, "b")).toDF("id", "v"), Seq("id")))
    t.append(Seq((2, "b")).toDF("id", "val")) // current name lands fine
    assert(t.read.orderBy("id").as[(Int, String)].collect().toSeq ===
      Seq((1, "a"), (2, "b")))
    t.dropColumn("val")
    assertThrows[IllegalArgumentException](
      t.append(Seq((3, "c")).toDF("id", "val"))) // dropped name: same refusal
    t.append(Seq(3).toDF("id"))
    assert(t.read.as[Int].collect().toSet === Set(1, 2, 3))
  }

  test("rename/drop refuse columns referenced by multi-line CHECK expressions") {
    val t = VersionedTable(spark, tmpDir("vt-mlcheck-"))
    t.append(Seq((1, 5)).toDF("id", "price"))
    // \r survives addCheck's newline guard but Java regex `.` skips line
    // terminators without DOTALL — pre-fix, this rename slipped through,
    // leaving every later write failing the orphaned check
    t.addCheck("price_pos", "price >\r 0")
    assertThrows[IllegalArgumentException](t.renameColumn("price", "p"))
    assertThrows[IllegalArgumentException](t.dropColumn("price"))
    t.dropCheck("price_pos")
    t.renameColumn("price", "p") // unencumbered now
    assert(t.read.columns.toSeq === Seq("id", "p"))
  }

  test("merge: NULL delete markers are updates, not silently dropped") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-nullmark-"))
    t.merge(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), Seq("id"))
    // the nullable-marker shape a unionByName(allowMissingColumns) feed
    // produces: updates carry NULL in __graft_delete, deletes carry true
    val upd = Seq((2, "b2")).toDF("id", "v")
    val del = Seq((3, "c")).toDF("id", "v")
      .withColumn(graft.ops.Merge.DeleteCol, lit(true))
    t.merge(upd.unionByName(del, allowMissingColumns = true), Seq("id"))
    assert(t.read.orderBy("id").as[(Int, String)].collect().toSeq ===
      Seq((1, "a"), (2, "b2")))
  }

  test("merge with conditional clauses: guarded update/delete/insert, CDF exact") {
    import graft.ops.Merge._
    import org.apache.spark.sql.functions.expr
    val t = VersionedTable(spark, tmpDir("vt-clauses-"))
    t.enableChangeFeed()
    t.merge(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30))
      .toDF("id", "v", "amt"), Seq("id"))                             // v0
    // arbitrary source schema: different column names, extra rows
    val src = Seq((1, "a2", 100), (2, "b2", 5), (4, "d", 40), (5, "e", -1))
      .toDF("id", "sv", "samt")
    val cl = Clauses("t", "s",
      matched = Seq(
        MatchedClause(Some(expr("s.samt < 10")), DeleteRow),
        MatchedClause(Some(expr("s.samt >= 100")),
          UpdateSet(Seq("v" -> expr("upper(s.sv)"),
            "amt" -> expr("t.amt + s.samt"))))),
      notMatched = Seq(
        NotMatchedClause(Some(expr("s.samt > 0")),
          InsertValues(Seq("id", "v"), Seq(expr("s.id"), expr("s.sv"))))))
    t.merge(src, Seq("id"), clauses = Some(cl))                       // v1
    // id1: second clause fires (update v→A2, amt 10+100); id2: delete;
    // id3: no source row, untouched; id4: guarded insert (amt NULL);
    // id5: fails the insert guard, lands nowhere
    assert(t.read.orderBy("id").as[(Int, String, Option[Int])]
      .collect().toSeq === Seq((1, "A2", Some(110)), (3, "c", Some(30)),
        (4, "d", None)))
    // CDF: exactly the touched rows, classified; id3/id5 emit nothing
    val feed = t.readChangeFeed(0) // exclusive-from: the v1 clause merge
      .select($"_change_type", $"id", $"v")
      .as[(String, Int, String)].collect().toSet
    assert(feed === Set(
      ("update_preimage", 1, "a"), ("update_postimage", 1, "A2"),
      ("delete", 2, "b"), ("insert", 4, "d")))
    // clause order is first-match: a catch-all BEFORE a specific clause
    // shadows it
    val cl2 = Clauses("t", "s",
      matched = Seq(
        MatchedClause(None, UpdateSet(Seq("v" -> expr("'first'")))),
        MatchedClause(Some(expr("s.samt > 0")),
          UpdateSet(Seq("v" -> expr("'second'"))))),
      notMatched = Nil)
    t.merge(src.filter($"id" === 1), Seq("id"), clauses = Some(cl2))  // v2
    assert(t.read.filter($"id" === 1).select("v").as[String].head() === "first")
  }

  test("merge WHEN NOT MATCHED BY SOURCE updates/deletes unmatched target rows") {
    import graft.ops.Merge._
    import org.apache.spark.sql.functions.expr
    val t = VersionedTable(spark, tmpDir("vt-bysrc-"))
    t.merge(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "dd", 40))
      .toDF("id", "v", "amt"), Seq("id"))
    val src = Seq((1, "a9")).toDF("id", "sv")
    val cl = Clauses("t", "s",
      matched = Seq(MatchedClause(None, UpdateSet(Seq("v" -> expr("s.sv"))))),
      notMatched = Nil,
      bySource = Seq(
        BySourceClause(Some(expr("t.amt >= 40")), DeleteRow),
        BySourceClause(Some(expr("t.amt >= 30")),
          UpdateSet(Seq("v" -> expr("'stale'"))))))
    t.merge(src, Seq("id"), clauses = Some(cl))
    // id1 matched-updated; id2 unmatched, no by-source clause fires
    // (amt=20), untouched; id3 by-source update; id4 by-source delete
    assert(t.read.orderBy("id").as[(Int, String, Int)].collect().toSeq ===
      Seq((1, "a9", 10), (2, "b", 20), (3, "stale", 30)))
    // by-source expressions must not reference the source alias
    val bad = Clauses("t", "s", Nil, Nil,
      bySource = Seq(BySourceClause(Some(expr("s.sv = 'x'")), DeleteRow)))
    assertThrows[IllegalArgumentException](
      t.merge(src, Seq("id"), clauses = Some(bad)))
  }

  test("identity columns: dense per write, disjoint across writes, ALWAYS-only") {
    val t = VersionedTable(spark, tmpDir("vt-idn-"))
    t.declareIdentity("id", start = 10L, step = 5L)
    t.append(Seq("a", "b", "c").toDF("v").repartition(2))
    val first = t.read.select("id").as[Long].collect().toSet
    assert(first === Set(10L, 15L, 20L)) // dense from START WITH, stepped
    t.append(Seq("d").toDF("v"))
    assert(t.read.select("id").as[Long].collect().toSet ===
      Set(10L, 15L, 20L, 25L)) // next write continues past the watermark
    // GENERATED ALWAYS: explicit values are refused on the ingest paths
    assertThrows[IllegalArgumentException](
      t.append(Seq((99L, "x")).toDF("id", "v")))
    // a shallow clone inherits the watermark: its next write stays
    // above everything it inherited
    val c = t.shallowCloneTo(tmpDir("vt-idnc-"))
    c.append(Seq("e").toDF("v"))
    assert(c.read.select("id").as[Long].collect().toSet ===
      Set(10L, 15L, 20L, 25L, 30L))
  }

  test("identity ranges stay disjoint under concurrent appends") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = VersionedTable(spark, tmpDir("vt-idnconc-"))
    t.declareIdentity("id")
    // four writers race: the hwm file-lock reservation must hand out
    // disjoint ranges even though append commits rebase (never conflict)
    val fs = (0 until 4).map { w =>
      Future(t.append(Seq.tabulate(50)(i => s"w$w-$i").toDF("v")))
    }
    Await.result(Future.sequence(fs), 120.seconds)
    val ids = t.read.select("id").as[Long].collect()
    assert(ids.length === 200)
    assert(ids.distinct.length === 200, "identity collision across writers")
    assert(ids.min === 1L && ids.max === 200L) // dense: 4 × 50 reserved slots
  }

  test("detailDf surfaces the column-mapping ledger and identity count") {
    val t = VersionedTable(spark, tmpDir("vt-dmap-"))
    t.append(Seq((1, "a", "x")).toDF("id", "v", "scratch"))
    t.renameColumn("v", "val")
    t.dropColumn("scratch")
    val d = t.detailDf.select("num_renamed_columns", "num_dropped_columns",
      "column_mapping", "num_identity_columns")
      .as[(Int, Int, String, Int)].head()
    assert(d === ((1, 1, "v->val;scratch->(dropped)", 0)))
  }

  test("table properties persist, clone over, and surface in detailDf") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-props-"))
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.setProperties(Map("owner" -> "graft", "tier" -> "silver"))
    t.setProperties(Map("tier" -> "gold")) // upsert
    assert(t.properties === Map("owner" -> "graft", "tier" -> "gold"))
    assert(t.detailDf.select("properties").as[String].head() ===
      "owner=graft;tier=gold")
    val c = t.shallowCloneTo(tmpDir("vt-props-dst-"))
    assert(c.properties === t.properties)
    // the clone's properties are its own: unsetting one side leaves the
    // other untouched (independent metadata files)
    c.unsetProperties(Seq("tier"))
    assert(c.properties === Map("owner" -> "graft"))
    assert(t.properties("tier") === "gold")
    // appendOnly carried by a clone gates the clone too
    t.setProperties(Map("graft.appendOnly" -> "true"))
    val d = t.shallowCloneTo(tmpDir("vt-props-ao-"))
    assertThrows[IllegalArgumentException](d.delete(col("id") === 1))
    assertThrows[IllegalArgumentException](t.restore(0))
  }

  test("replaceWhere atomically swaps predicate rows; batch must satisfy it") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-rw-"))
    t.enableChangeFeed()
    t.append(Seq((1, "jan", 10), (2, "jan", 20), (3, "feb", 30))
      .toDF("id", "m", "v"))
    t.replaceWhere(col("m") === "jan",
      Seq((7, "jan", 70)).toDF("id", "m", "v"))
    assert(t.read.as[(Int, String, Int)].collect().toSet ===
      Set((7, "jan", 70), (3, "feb", 30)))
    // ONE commit (no deleted-but-not-reloaded intermediate state)
    assert(t.history.map(e => (e.version, e.action)) ===
      Seq((0L, "append"), (1L, "replace_where")))
    val feed = t.readChangeFeed(0)
    assert(feed.where(col("_change_type") === "delete").count() === 2)
    assert(feed.where(col("_change_type") === "insert").count() === 1)
    assert(t.readVersion(0).count() === 3) // time travel pre-replace
    // a batch row OUTSIDE the predicate fails the write, nothing commits
    assertThrows[Exception](t.replaceWhere(col("m") === "jan",
      Seq((8, "mar", 80)).toDF("id", "m", "v")))
    assert(t.read.count() === 2)
    assert(t.history.length === 2)
  }

  test("replaceWhere on a bucketed merge table keeps COW routing alive") {
    import org.apache.spark.sql.functions._
    val t = VersionedTable(spark, tmpDir("vt-rwb-"))
    t.merge(Seq((1, "jan", "a"), (2, "feb", "b"), (3, "jan", "c"))
      .toDF("k", "m", "v"), keys = Seq("k"), numBuckets = 4)
    t.replaceWhere(col("m") === "jan",
      Seq((9, "jan", "z")).toDF("k", "m", "v"))
    assert(t.read.as[(Int, String, String)].collect().toSet ===
      Set((9, "jan", "z"), (2, "feb", "b")))
    // the rewrite went through the bucketed writer: a follow-up merge
    // still routes copy-on-write by cell (upsert finds the row)
    t.merge(Seq((9, "jan", "z2")).toDF("k", "m", "v"),
      keys = Seq("k"), numBuckets = 4)
    assert(t.read.where(col("k") === 9).select("v").as[String].head() === "z2")
    assert(t.read.count() === 2)
  }

  test("replaceRange carries file-sets whose stats cannot overlap") {
    val t = VersionedTable(spark, tmpDir("vt-rr-"))
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), statsFor = Seq("k"))
    t.append(Seq((100, "x"), (101, "y")).toDF("k", "v"), statsFor = Seq("k"))
    val before = t.history.last.fileSets
    t.replaceRange("k", "100", "200", Seq((150, "z")).toDF("k", "v"))
    val after = t.history.last.fileSets
    // the low file-set is carried VERBATIM (same id), the high one is not
    assert(after.contains(before.head))
    assert(!after.contains(before(1)))
    assert(t.read.as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (150, "z")))
  }

  test("merge rebases over cell-disjoint concurrent appends (no lost rows)") {
    import org.apache.spark.sql.functions._
    // partition-bucketed table: merges touch p='A' cells only, the racing
    // appends land p='B' rows only — every appended file-set's cell
    // suffix is disjoint from the merge's, so the merge REBASES instead
    // of throwing (Delta's append-vs-merge concurrency cell)
    val t = VersionedTable(spark, tmpDir("vt-rebase-"))
    t.merge(Seq((1, "A", "a1"), (2, "A", "a2")).toDF("k", "p", "v"),
      keys = Seq("k"), numBuckets = 4, partitionBy = Seq("p"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val merges = pool.submit(new java.util.concurrent.Callable[(Int, Int)] {
      def call(): (Int, Int) = {
        var ok = 0; var refused = 0; var i = 0
        while (!stop.get()) {
          i += 1
          try {
            t.merge(Seq((1, "A", s"m$i")).toDF("k", "p", "v"),
              keys = Seq("k"), numBuckets = 4, partitionBy = Seq("p"))
            ok += 1
          } catch {
            case _: java.util.ConcurrentModificationException => refused += 1
          }
        }
        (ok, refused)
      }
    })
    try (1 to 6).foreach(i =>
      t.append(Seq((100 + i, "B", s"b$i")).toDF("k", "p", "v"),
        partitionBy = Seq("p")))
    finally {
      stop.set(true)
      val (ok, refused) = merges.get()
      assert(ok > 0, "merges must actually have run")
      // cell-disjoint appends never refuse a merge
      assert(refused === 0, s"merge refused $refused times against " +
        "partition-disjoint appends")
      pool.shutdown()
    }
    // every appended row AND the merged key survived the interleaving
    val rows = t.read.as[(Int, String, String)].collect()
    assert(rows.count(_._2 == "B") === 6)
    assert(rows.filter(_._2 == "A").map(_._1).sorted.toSeq === Seq(1, 2))
    // a NON-append intervening commit still refuses: stale-based merges
    // must not rebase across a delete (covered by conflict OCC specs)
  }

  test("commitCellRebase: foreign-cell append rebases, same-cell append refuses") {
    val t = VersionedTable(spark, tmpDir("vt-ccr-"))
    t.merge(Seq((1, "A", "a"), (2, "B", "b")).toDF("k", "p", "v"),
      keys = Seq("k"), numBuckets = 2, partitionBy = Seq("p"))
    val v0 = t.history.last
    // a second merge touching ONLY key 1 identifies the (p=A, bucket-of-1)
    // cell: consumed = sets it replaced, produced = its replacements
    t.merge(Seq((1, "A", "a2")).toDF("k", "p", "v"),
      keys = Seq("k"), numBuckets = 2, partitionBy = Seq("p"))
    val v1 = t.history.last
    val aCell = v1.fileSets.diff(v0.fileSets)
    assert(aCell.nonEmpty)
    // DISJOINT intervening append (p=B): a stale-based merge-shaped
    // commit (consumed == produced == the A cell) REBASES — the winner's
    // B rows and the merge's A rows both survive
    t.append(Seq((101, "B", "b101")).toDF("k", "p", "v"),
      partitionBy = Seq("p"))
    val rebased = t.commitCellRebase("merge", consumed = aCell,
      produced = aCell, basedOn = Some(v1.version))
    assert(rebased.version === t.history.last.version)
    assert(t.read.count() === 3) // keys 1, 2 (merged) + 101 (appended)
    // OVERLAPPING intervening append (key 1 → the SAME cell): refuse
    t.append(Seq((1, "A", "dup")).toDF("k", "p", "v"),
      partitionBy = Seq("p"))
    assertThrows[java.util.ConcurrentModificationException](
      t.commitCellRebase("merge", consumed = aCell, produced = aCell,
        basedOn = Some(rebased.version)))
  }

  test("graft.optimizeWrite bin-packs a sharded batch into few files") {
    val batch = (0 until 1000).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(16)
    // without the property: one output file per shuffle partition
    val plain = VersionedTable(spark, tmpDir("vt-ow0-"))
    plain.append(batch)
    assert(plain.detailDf.select("num_files").as[Long].head() === 16)
    // with it: REBALANCE + AQE coalesce to the advisory size → 1 file
    val t = VersionedTable(spark, tmpDir("vt-ow-"))
    t.setProperties(Map("graft.optimizeWrite" -> "true"))
    t.append(batch)
    assert(t.detailDf.select("num_files").as[Long].head() <= 2)
    assert(t.read.count() === 1000)
    // hive-partitioned writes rebalance BY the partition columns
    val p = VersionedTable(spark, tmpDir("vt-owp-"))
    p.setProperties(Map("graft.optimizeWrite" -> "true"))
    p.append((0 until 1000).map(i => (i % 3, i)).toDF("p", "k")
      .repartition(16), partitionBy = Seq("p"))
    assert(p.detailDf.select("num_files").as[Long].head() <= 3)
    assert(p.read.count() === 1000)
    // partitioned writes default ON (r18): an unclustered partitioned
    // append would otherwise land tasks × partitions tiny files — the
    // canonical small-files anti-pattern. No property set here.
    val pd = VersionedTable(spark, tmpDir("vt-owpd-"))
    pd.append((0 until 1000).map(i => (i % 3, i)).toDF("p", "k")
      .repartition(16), partitionBy = Seq("p"))
    assert(pd.detailDf.select("num_files").as[Long].head() <= 3)
    assert(pd.read.count() === 1000)
    // an explicit false still opts a partitioned write out
    val poff = VersionedTable(spark, tmpDir("vt-owoff-"))
    poff.setProperties(Map("graft.optimizeWrite" -> "false"))
    poff.append((0 until 30).map(i => (i % 3, i)).toDF("p", "k")
      .repartition(4), partitionBy = Seq("p"))
    assert(poff.detailDf.select("num_files").as[Long].head() > 3)
    // flat writes keep the opt-in default (plain's 16 files above
    // already pin that)
  }

  test("historyDf exposes DESCRIBE HISTORY as a relation") {
    val t = VersionedTable(spark, tmpDir("vt-hist-"))
    t.append(Seq(1).toDF("id"))
    t.append(Seq(2).toDF("id"))
    t.overwrite(Seq(3).toDF("id"))
    val h = t.historyDf.orderBy("version")
      .select("version", "action", "n_file_sets")
      .as[(Long, String, Long)].collect().toSeq
    assert(h === Seq((0L, "append", 1L), (1L, "append", 2L),
      (2L, "overwrite", 1L)))
    // operation metrics from consecutive log diffs (metadata-only):
    // appends add 1/remove 0, the overwrite adds 1/removes 2
    val m = t.historyDf.orderBy("version")
      .select("n_added_sets", "n_removed_sets")
      .as[(Long, Long)].collect().toSeq
    assert(m === Seq((1L, 0L), (1L, 0L), (1L, 2L)))
  }

  test("changeFeedExpressible is the metadata-only mirror of " +
       "readChangeFeed's refusal cases") {
    import org.apache.spark.sql.functions.col
    val t = VersionedTable(spark, tmpDir("graft-cfe-"))
    t.enableChangeFeed()
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))           // v0
    t.delete(col("k") === 2)                                   // v1
    // expressible prefix: probe and plan agree
    assert(t.changeFeedExpressible(-1L, 1L))
    assert(t.readChangeFeed(-1L, Some(1L)).count() === 3L)     // 2 ins + 1 del
    // an overwrite is NOT expressible as row changes — probe says no
    // without constructing any scan, the read throws
    t.overwrite(Seq((3, "c")).toDF("k", "v"))                  // v2
    assert(!t.changeFeedExpressible(-1L, 2L))
    intercept[CdfNotExpressible](t.readChangeFeed(-1L, Some(2L)))
    // the range AFTER the overwrite is expressible again
    t.append(Seq((4, "d")).toDF("k", "v"))                     // v3
    assert(t.changeFeedExpressible(2L, 3L))
    assert(t.readChangeFeed(2L, Some(3L)).count() === 1L)
    // maintenance commits stay transparent to both
    t.compact()                                                // v4
    assert(t.changeFeedExpressible(2L, 4L))
  }

  test("every log action classifies identically through readChangeFeed " +
       "and changeFeedExpressible (shared CdfNoChangeActions) — the " +
       "lockstep property, so a new action cannot silently diverge them") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = VersionedTable(spark, tmpDir("graft-cfe2-"))
    t.enableChangeFeed()
    t.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")) // append
    t.delete(col("k") === 2)                                   // delete
    t.update(Map("v" -> lit("z")), col("k") === 1)             // update
    t.merge(Seq((4, "d")).toDF("k", "v"), Seq("k"))            // merge
    t.compact()                                                // compact
    t.renameColumn("v", "w")                                   // rename_column
    t.addColumns("x INT")                                      // add columns
    t.dropColumn("x")                                          // drop_column
    t.overwrite(Seq((9, "y")).toDF("k", "w"))                  // replace
    t.append(Seq((10, "q")).toDF("k", "w"))
    t.restore(t.history.head.version)                          // restore
    val actions = t.history.map(_.action).toSet
    // the sweep must actually exercise both classes — a fixture change
    // that drops the non-expressible actions would hollow the property
    assert(actions.exists(VersionedTable.CdfNoChangeActions.contains))
    assert(actions.exists(a => Set("overwrite", "restore")(a)))
    t.history.foreach { e =>
      val readable = scala.util.Try(
        t.readChangeFeed(e.version - 1, Some(e.version)).count()).isSuccess
      assert(t.changeFeedExpressible(e.version - 1, e.version) === readable,
        s"v${e.version} action=${e.action}: probe and read disagree")
    }
  }

  test("consumer pins: setPin re-points, dropPin is idempotent, vacuum " +
       "retains the pinned suffix until the pin advances or IGNORE PINS") {
    val t = VersionedTable(spark, tmpDir("graft-pin-"))
    (0 until 3).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    t.compact()                                                   // v3
    // pins API: record, re-point, detail carries a timestamp
    t.setPin("mv:/consumers/a", 1L)
    assert(t.pins === Map("mv:/consumers/a" -> 1L))
    t.setPin("mv:/consumers/a", 0L)                               // re-point
    assert(t.pins("mv:/consumers/a") === 0L)
    assert(t.pinsDetail("mv:/consumers/a")._2 > 0L)
    intercept[IllegalArgumentException](t.setPin("mv:x", 99L))
    // the pinned suffix (v0..head) holds everything back
    assert(t.vacuumDryRun(retainVersions = 1) === Seq.empty)
    // ... but IGNORE PINS previews the real blast radius
    assert(t.vacuumDryRun(retainVersions = 1, respectPins = false)
      .nonEmpty)
    // pin advance releases history behind it
    t.setPin("mv:/consumers/a", 3L)
    val doomed = t.vacuumDryRun(retainVersions = 1)
    assert(doomed.nonEmpty)
    assert(t.vacuum(retainVersions = 1) === doomed)
    // snapshotLive: the head survived, the pre-compaction versions died
    assert(t.snapshotLive(3L))
    assert(!t.snapshotLive(0L))
    // dropPin: idempotent, and the registry empties
    t.dropPin("mv:/consumers/a")
    t.dropPin("mv:/consumers/a")
    assert(t.pins === Map.empty)
    assert(t.read.orderBy("k").as[(Int, String)].collect().toSeq ===
      Seq((0, "v0"), (1, "v1"), (2, "v2")))
  }

  test("pin liveness heartbeat: a same-version setPin refreshes a stale " +
       "timestamp (age = last confirmed alive), fresh ones don't churn") {
    val t = VersionedTable(spark, tmpDir("graft-pinhb-"))
    t.append(Seq((1, "a")).toDF("k", "v"))                        // v0
    // a live consumer over a QUIESCENT upstream: floor stays at v0 for
    // hours, but its per-batch setPin calls must keep it expiry-safe
    val stale = System.currentTimeMillis() - 2 * 3600 * 1000L
    t.setPinAt("mv:/consumers/q", 0L, stale)
    t.setPin("mv:/consumers/q", 0L)                     // per-batch touch
    val refreshed = t.pinsDetail("mv:/consumers/q")._2
    assert(refreshed > stale, "stale same-version setPin must heartbeat")
    assert(t.expirePins(3600 * 1000L) === Nil,
      "a heartbeating consumer must survive FORCE EXPIRE")
    // within the heartbeat interval: same-version calls stay no-ops
    // (hot paths call this per slice and must not churn small files)
    t.setPin("mv:/consumers/q", 0L)
    assert(t.pinsDetail("mv:/consumers/q")._2 === refreshed)
    // the expiry audit lands BEFORE destruction: after a successful
    // expire the entry exists AND the pin is gone; nothing destroys a
    // pin without its history record landing first
    t.setPinAt("mv:/consumers/dead", 0L, stale)
    val expired = t.expirePins(3600 * 1000L)
    assert(expired.map(_._1) === Seq("mv:/consumers/dead"))
    assert(t.history.last.action === "expire_pins")
    assert(!t.pins.contains("mv:/consumers/dead"))
  }

  test("concurrent pin claims never corrupt the registry: per-pin files " +
       "make simultaneous consumers independent") {
    val t = VersionedTable(spark, tmpDir("graft-pinrace-"))
    t.append(Seq((1, "a")).toDF("k", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit =
            (0 until 20).foreach(_ => t.setPin(s"mv:/consumer/$i", 0L))
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    assert(t.pins.keySet === (0 until 8).map(i => s"mv:/consumer/$i").toSet)
    assert(t.pins.values.forall(_ === 0L))
    // and the sink-owner lease: 8 racing claimers, exactly one wins
    val owners = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool2 = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map { i =>
        pool2.submit(new Runnable {
          override def run(): Unit =
            try { t.claimSinkOwner(s"cp$i"); owners.add(s"cp$i"); () }
            catch { case _: RuntimeException => () }
        })
      }
      futs.foreach(_.get())
    } finally pool2.shutdown()
    assert(owners.size === 1, s"exactly one claimer must win, got $owners")
    assert(t.sinkOwner.contains(owners.peek()))
  }

  test("insert-only merge records the synthetic-inserts sentinel: no " +
      "_changes copy is written, the feed synthesizes identical inserts") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("vt-cdf-sentinel-")
    val t = VersionedTable(spark, root)
    t.enableChangeFeed()
    // insert-only fast path: merge into an empty table (the MV/ingest
    // bootstrap shape)
    t.merge(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), Seq("k")) // v0
    val changesDir = java.nio.file.Paths.get(root, "_changes")
    // the batch must NOT be materialized a second time under _changes/
    assert(!java.nio.file.Files.isDirectory(changesDir) ||
      !java.nio.file.Files.list(changesDir).iterator().hasNext,
      "insert-only merge wrote an explicit change set")
    // ... yet the feed shows exactly the inserts, same as an explicit set
    assert(t.readChangeFeed(-1)
      .select("_commit_version", "_change_type", "k", "v")
      .as[(Long, String, Int, String)].collect().toSet ===
      Set((0L, "insert", 1, "a"), (0L, "insert", 2, "b"),
        (0L, "insert", 3, "c")))
    assert(t.changeFeedExpressible(-1L, 0L))
    // a second insert-only merge (disjoint keys, no touched cells)
    // synthesizes from ITS added sets only
    t.merge(Seq((10, "j"), (11, "k")).toDF("k", "v"), Seq("k"))         // v1
    assert(t.readChangeFeed(0).select("_change_type", "k")
      .as[(String, Int)].collect().toSet ===
      Set(("insert", 10), ("insert", 11)))
    // compaction rewrites the data sets: the feed over the OLD range
    // degrades exactly like a synthesized append would once the sets
    // are vacuumed — until then it stays readable
    t.compact()
    assert(t.readChangeFeed(1).count() === 0)  // compact: no logical change
    t.vacuum(retainVersions = 1)
    assert(!t.changeFeedExpressible(-1L, 1L))
    intercept[RuntimeException] { t.readChangeFeed(-1).count() }
  }
}
