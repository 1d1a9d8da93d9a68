package graft

import graft.ops.{Keyed, Merge}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based rerun-safety invariants (SURVEY.md §5): the reference's
  * idempotency contracts hold for arbitrary generated data, not just the
  * fixtures. Uses raw ScalaCheck generators with fixed seeds (the
  * scalatest-scalacheck bridge isn't on the offline classpath). */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val rows: Gen[List[(Int, Int, Double)]] =
    Gen.listOfN(30, Gen.zip(Gen.choose(0, 9), Gen.choose(0, 5),
      Gen.choose(0.0, 100.0)))

  private def samples(n: Int): Seq[List[(Int, Int, Double)]] =
    (1 to n).map(i =>
      rows(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(sys.error("gen failed")))

  test("property: merge(merge(t, u), u) == merge(t, u)") {
    for ((t, u) <- samples(5).zip(samples(5).reverse)) {
      val target = t.toDF("id", "ver", "v").dropDuplicates("id")
      val updates = u.toDF("id", "ver", "v").dropDuplicates("id")
      val once = Merge.upsert(target, updates, Seq("id"))
      val twice = Merge.upsert(once, updates, Seq("id"))
      assert(twice.collect().toSet === once.collect().toSet)
    }
  }

  test("property: bucketed COW merge == plain upsert of the full snapshot") {
    import graft.tables.VersionedTable
    for (((t, u), i) <- samples(4).zip(samples(4).reverse).zipWithIndex) {
      val target = t.toDF("id", "ver", "v").dropDuplicates("id")
      val updates = u.toDF("id", "ver", "v").dropDuplicates("id")
      val tbl = VersionedTable(spark, tmpDir(s"prop-cow-$i-"))
      tbl.merge(target, Seq("id"), numBuckets = 4)   // bootstrap, bucketed
      tbl.merge(updates, Seq("id"))                  // COW path
      val expected = Merge.upsert(target, updates, Seq("id"))
      assert(tbl.read.collect().toSet === expected.collect().toSet,
        s"COW merge diverged from reference upsert (sample $i)")
    }
  }

  test("property: append-with-guard twice == once (S7 dup-payload skip)") {
    for ((e, i) <- samples(5).zip(samples(5).reverse)) {
      val existing = e.toDF("id", "ver", "v").select("id").distinct()
      val incoming = i.toDF("id", "ver", "v").select("id").distinct()
      val afterOnce = existing.union(
        Keyed.notIn(incoming, existing, Seq("id"))).distinct()
      val afterTwice = afterOnce.union(
        Keyed.notIn(incoming, afterOnce, Seq("id"))).distinct()
      assert(afterTwice.as[Int].collect().toSet ===
        afterOnce.as[Int].collect().toSet)
    }
  }

  test("property: codegen'd hash kernels == HOF formulations on random corpora") {
    import org.apache.spark.sql.functions._
    import graft.ops.{Dedup, Similarity, SimilarityHof, TextAnalysis}
    graft.functions.GraftFunctions.register(spark)
    val word: Gen[String] = Gen.choose(1, 6)
      .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val doc: Gen[String] = Gen.choose(0, 40)
      .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val docsGen = Gen.listOfN(60, doc)
    for (seed <- 1 to 3) {
      val texts = docsGen(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(sys.error("gen failed"))
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
      // shingle strings: kernel vs the wordShingles HOF reference
      val shMismatch = df.select(
          call_function("graft_word_shingles", $"toks", lit(3)).as("fast"),
          Dedup.wordShingles(concat_ws(" ", $"toks"), 3).as("slow"))
        .filter(not($"fast" <=> $"slow")).count()
      assert(shMismatch === 0)
      // minhash over shingle strings: kernel vs the HOF hash chain
      val mhMismatch = df.select(
          call_function("graft_minhash",
            Dedup.wordShingles(concat_ws(" ", $"toks"), 3), lit(32)).as("fast"),
          Dedup.minhashSignatureFromHashes(
            transform(Dedup.wordShingles(concat_ws(" ", $"toks"), 3),
              s => xxhash64(s)), 32).as("slow"))
        .filter(not($"fast" <=> $"slow")).count()
      assert(mhMismatch === 0)
      // lsh bucket: kernel vs HOF, random vectors
      val rnd = new scala.util.Random(seed)
      val planes = Similarity.hyperplanes(6, 8, seed.toLong)
      val vecs = (0 until 50).map(i =>
        (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
      val lshMismatch = vecs.select(
          Similarity.lshBucket($"embedding", planes).as("fast"),
          SimilarityHof.lshBucketHof($"embedding", planes).as("slow"))
        .filter(not($"fast" <=> $"slow")).count()
      assert(lshMismatch === 0)
    }
  }

  test("property: latestPerKey returns input rows, one per key") {
    for (rs <- samples(5)) {
      val df = rs.toDF("id", "ver", "v")
      val out = Keyed.latestPerKey(df, Seq("id"), "ver",
        tieBreakers = Seq("v")).collect()
      val inputSet = rs.toSet
      out.foreach { r =>
        assert(inputSet.contains((r.getInt(0), r.getInt(1), r.getDouble(2))))
      }
      assert(out.map(_.getInt(0)).distinct.length === out.length)
      assert(out.map(_.getInt(0)).toSet === rs.map(_._1).toSet)
    }
  }

  test("property: log entries and intent lines round-trip arbitrary strings") {
    import graft.tables.VersionedTable.{LogEntry, PreparedCommit}
    // the characters a hand-rolled codec trips on: JSON syntax, escapes,
    // every control character, separators and non-BMP code points
    val char: Gen[String] = Gen.frequency(
      4 -> Gen.oneOf("\"", "\\", "]", "[", ",", ";", "{", "}", ":", "/",
        "\\u005d", "\u007f", "\u2028"),
      2 -> Gen.choose(0, 0x1f).map(_.toChar.toString),
      2 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))),
      3 -> Gen.alphaNumChar.map(_.toString))
    val str: Gen[String] =
      Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, char).map(_.mkString))
    val strs: Gen[List[String]] = Gen.choose(0, 3).flatMap(Gen.listOfN(_, str))
    val txn: Gen[Option[(String, Long)]] =
      Gen.option(Gen.zip(str, Gen.choose(0L, Long.MaxValue)))
    val entry: Gen[LogEntry] = for {
      v <- Gen.choose(0L, Long.MaxValue); ts <- Gen.choose(0L, Long.MaxValue)
      action <- str; sets <- strs; tx <- txn; dvs <- strs
      cdf <- Gen.option(str)
    } yield LogEntry(v, ts, action, sets, tx, dvs, cdf)
    val intent: Gen[PreparedCommit] = for {
      action <- str; consumed <- strs; produced <- strs
      basedOn <- Gen.option(Gen.choose(0L, Long.MaxValue)); tx <- txn
      dvs <- strs; cdf <- Gen.option(str)
      cell <- Gen.oneOf(true, false); ac <- Gen.oneOf(true, false)
    } yield PreparedCommit(action, consumed, produced, basedOn, tx, dvs, cdf,
      cell, ac)
    for (seed <- 1 to 200) {
      def sample[A](g: Gen[A]): A = g(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(sys.error("gen failed"))
      val e = sample(entry)
      assert(LogEntry.parse(e.toJson) === e, e.toJson)
      assert(!e.toJson.contains('\n'), "log records are line-framed")
      val pc = sample(intent)
      assert(PreparedCommit.fromJson(pc.toJson) === pc, pc.toJson)
      // intent lines are `<root>\t<json>\n`-framed
      assert(pc.toJson.forall(_ >= ' '), pc.toJson)
    }
  }
}
