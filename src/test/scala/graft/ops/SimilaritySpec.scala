package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine matches hand computation and handles zero vectors") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0), 1.0),
      (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0),
      (Seq(1.0, 1.0), Seq(1.0, 0.0), math.sqrt(0.5)),
      (Seq(0.0, 0.0), Seq(1.0, 0.0), 0.0), // zero-norm guard
    ).toDF("a", "b", "expected")
    val out = df.select(Similarity.cosine($"a", $"b").as("c"), $"expected")
      .as[(Double, Double)].collect()
    out.foreach { case (c, e) => assert(math.abs(c - e) < 1e-12) }
  }

  test("bruteForceTopK returns exact nearest neighbours in order") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)),
      (4L, Seq(-1f, 0f)), (5L, Seq(0.5f, 0.5f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, Seq(1f, 0f), 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(out === Seq(1L, 2L, 5L))
  }

  test("lshTopK recall: planted duplicate of the query is always found") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val query = base(5)._2
    val df = base.toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(df, query, k = 1, numPlanes = 10,
      probeHamming = 1)
      .select("vec_id").as[Long].collect()
    assert(out.headOption === Some(5L)) // identical vector -> same bucket
  }

  test("embeddingNearDupPairs finds planted duplicates within buckets") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 100).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val planted = base.filter(_._1 % 10 == 0)
      .map { case (id, v) => (1000L + id, v) }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(df, dim = 16,
      threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = base.filter(_._1 % 10 == 0)
      .map { case (id, _) => (id, 1000L + id) }.toSet
    assert(expected subsetOf pairs,
      s"missed planted identical vectors: ${expected -- pairs}")
  }

  test("int8 quantization: bounded error, cosine preserved, flat vectors safe") {
    val rnd = new scala.util.Random(17)
    val base = (0 until 50).map(i =>
      (i.toLong, Seq.fill(32)(rnd.nextGaussian().toFloat))) :+
      (99L, Seq.fill(32)(1.5f)) // flat vector: max == min
    val df = base.toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df)
    val roundTrip = q.select(col("vec_id"), col("q_scale"),
        Similarity.dequantizeInt8(col("q"), col("q_scale"), col("q_min"))
          .as("deq"))
      .join(df, Seq("vec_id"))
      .select(col("vec_id"),
        // max abs per-element reconstruction error vs scale/2 bound
        aggregate(zip_with(col("deq"), col("embedding").cast("array<double>"),
          (a, b) => abs(a - b)), lit(0.0d),
          (acc, x) => greatest(acc, x)).as("maxErr"),
        col("q_scale"))
      .as[(Long, Double, Double)].collect()
    roundTrip.foreach { case (id, err, scale) =>
      assert(err <= scale / 2 + 1e-12, s"vec $id error $err > ${scale / 2}")
    }
    // quantized range is fully inside int8 — both bounds checked
    // separately (abs folding would let an illegal +128 masquerade as a
    // legal -128)
    val (qLo, qHi) = q
      .select(aggregate(col("q"), lit(127), (a, x) => least(a, x)).as("lo"),
        aggregate(col("q"), lit(-128), (a, x) => greatest(a, x)).as("hi"))
      .agg(min("lo"), max("hi")).as[(Int, Int)].head()
    assert(qLo >= -128 && qHi <= 127, s"int8 overflow: [$qLo, $qHi]")
  }

  test("oversized-bucket drops are observed, never silent") {
    Diagnostics.resetDrops("graft_drops_bucket")
    val rnd = new scala.util.Random(3)
    // 50 copies of ONE vector → one LSH bucket of 50 > cap of 10:
    // every pair is dropped, which must surface through the observation
    val v = Seq.fill(16)(rnd.nextGaussian().toFloat)
    val df = (0 until 50).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(df, dim = 16,
      threshold = 0.999, maxBucketSize = 10)
    assert(pairs.count() === 0) // all candidates were in the capped bucket
    // QueryExecutionListener delivery is async: poll briefly
    val deadline = System.nanoTime() + 10_000_000_000L
    var seen = Diagnostics.lastDrops("graft_drops_bucket")
    while (seen.forall(_._1 == 0) && System.nanoTime() < deadline) {
      Thread.sleep(50); seen = Diagnostics.lastDrops("graft_drops_bucket")
    }
    assert(seen.exists(_._1 >= 1),
      s"dropped oversized bucket was not observed: $seen")
    assert(seen.exists(_._2 === 50L), s"largest-group metric wrong: $seen")
  }

  test("IVF top-k: full-probe is exact; partial probe keeps high recall") {
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val query = vecs(7)._2
    val brute = Similarity.bruteForceTopK(df, query, 10)
      .select("vec_id").as[Long].collect().toSet
    val idx = Similarity.ivfIndex(df, nCells = 8)
    // probing all cells must be exactly brute force
    val full = Similarity.ivfTopK(idx, query, 10, nProbe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(full === brute)
    // probing 3/8 cells: the identical vector (id 7) must be found, and
    // recall vs brute force should be substantial
    val partial = Similarity.ivfTopK(idx, query, 10, nProbe = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(partial.contains(7L))
    assert(partial.intersect(brute).size >= 5,
      s"recall too low: ${partial.intersect(brute).size}/10")
  }

  test("IVF serving table: probe-read is partition-pruned and full-probe exact") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val query = vecs(7)._2
    val path = tmpDir("ivf-serve-") + "/ivf"
    Similarity.writeIvfTable(df, path, nCells = 8)
    // full probe == brute force (exactness at nProbe = nCells)
    val brute = Similarity.bruteForceTopK(df, query, 10)
      .select("vec_id").as[Long].collect().toSet
    val full = Similarity.ivfProbeTopK(spark, path, query, 10, nProbe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(full === brute)
    // partial probe: plan must PRUNE to the probed cells' partitions
    val probed = Similarity.ivfProbeTopK(spark, path, query, 10, nProbe = 2)
    val scan = probed.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("ivf_cell"),
      s"no partition filter: ${scan.metadata("PartitionFilters")}")
    val allParts = spark.read.parquet(path)
      .select("ivf_cell").distinct().count()
    assert(scan.selectedPartitions.partitionCount === 2,
      s"expected 2 of $allParts partitions scanned, " +
        s"got ${scan.selectedPartitions.partitionCount}")
    assert(probed.select("vec_id").as[Long].collect().contains(7L))
  }

  test("LSH serving table: multiprobe probe-read prunes and finds the planted vec") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val rnd = new scala.util.Random(7)
    val base = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val query = base(5)._2
    val df = base.toDF("vec_id", "embedding")
    val path = tmpDir("lsh-serve-") + "/lsh"
    Similarity.writeLshTable(df, path, numPlanes = 6, dim = 16)
    val out = Similarity.lshProbeTopK(spark, path, query, k = 1,
      probeHamming = 1)
    val scan = out.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("lsh_bucket"))
    val allParts = spark.read.parquet(path)
      .select("lsh_bucket").distinct().count()
    assert(scan.selectedPartitions.partitionCount < allParts,
      s"no pruning: scanned ${scan.selectedPartitions.partitionCount}/$allParts")
    assert(out.select("vec_id").as[Long].collect().headOption === Some(5L))
  }

  test("PQ quantizes losslessly when subspace patterns fit the codebook") {
    import org.apache.spark.sql.functions._
    // 2 subspaces × 4 distinct unit patterns each, scaled so every full
    // vector is unit-norm → a k=4 codebook covers each subspace exactly
    // and ADC scores EQUAL true inner products (= cosine)
    val s2 = (1.0 / math.sqrt(2.0)).toFloat
    val dirs = Seq(
      Seq(s2, 0f, 0f, 0f), Seq(0f, s2, 0f, 0f),
      Seq(0f, 0f, s2, 0f), Seq(0f, 0f, 0f, s2))
    val vecs = (0 until 32).map(i =>
      (i.toLong, dirs(i % 4) ++ dirs((i / 4) % 4)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(vecs, m = 2, k = 4)
    val codes = Similarity.pqEncode(vecs, cb)
    val q = vecs.filter($"vec_id" === 5).select("embedding")
      .head().getSeq[Float](0)
    val top = Similarity.pqTopK(codes, cb, q, 5)
      .as[(Long, Double)].collect().toSeq
    // ids 5 and 21 are identical vectors (pattern period 16): both score
    // exactly 1.0, id tiebreak orders them
    assert(top.take(2) === Seq((5L, 1.0), (21L, 1.0)))
    // lossless quantization ⇒ the PQ ranking equals brute-force cosine
    val exact = Similarity.bruteForceTopK(vecs, q, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(top.map(_._1) === exact)
  }

  test("graft_nearest_cell expression == higher-order formulation on well-formed input") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(23)
    val df = (0 until 400).map(i =>
      (i.toLong, Seq.fill(12)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Array.fill(6)(Array.fill(12)(rnd.nextGaussian()))
    val centLit = typedlit(cents.map(_.toSeq).toSeq)
    val mismatches = df.select(
        call_function("graft_nearest_cell",
          col("embedding").cast("array<double>"), centLit).as("fast"),
        SimilarityHof.nearestCellHof(
          col("embedding").cast("array<double>"), cents).as("hof"))
      .filter(col("fast") =!= col("hof")).count()
    assert(mismatches === 0)
  }

  test("graft_pq_codes expression == higher-order formulation " +
       "(incl. short and null-element vectors)") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(31)
    val good = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(good, m = 4, k = 8)
    val mismatches = good.select(
        Similarity.pqCodesExpr(col("embedding"), cb).as("fast"),
        SimilarityHof.pqCodesHof(col("embedding"), cb).as("hof"))
      .filter(not(col("fast") <=> col("hof"))).count()
    assert(mismatches === 0)
    // degenerate rows: a short vector (subspaces past its end null out)
    // and a null element (nulls exactly its subspace's code)
    val weird = Seq(
      (1L, Seq.fill(6)(0.5).map(d => d: java.lang.Double)),
      (2L, (Seq.fill(3)(0.5d: java.lang.Double) :+
        (null: java.lang.Double)) ++ Seq.fill(12)(0.25d: java.lang.Double)),
    ).toDF("vec_id", "embedding")
    val wm = weird.select(
        Similarity.pqCodesExpr(col("embedding"), cb).as("fast"),
        SimilarityHof.pqCodesHof(col("embedding"), cb).as("hof"))
      .filter(not(col("fast") <=> col("hof"))).count()
    assert(wm === 0)
  }

  test("ivfIndex fit is driver-local: bounded Spark job count") {
    val rnd = new scala.util.Random(5)
    val df = (0 until 500).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    sc.setJobGroup("ivf-fit-pin", "ivfIndex job-count pin")
    try {
      val idx = Similarity.ivfIndex(df, nCells = 8)
      idx.assigned.count() // one assignment pass
    } finally sc.clearJobGroup()
    // status updates are listener-fed: poll briefly for a stable count
    val deadline = System.nanoTime() + 10_000_000_000L
    var jobs = sc.statusTracker.getJobIdsForGroup("ivf-fit-pin").length
    while (jobs == 0 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      jobs = sc.statusTracker.getJobIdsForGroup("ivf-fit-pin").length
    }
    // count + sample-collect + assignment ≈ 3; a distributed Lloyd's fit
    // would be dozens (its per-iteration jobs are the latency fragility
    // this pin exists to keep out)
    assert(jobs >= 1 && jobs <= 5,
      s"ivfIndex ran $jobs jobs — distributed fit crept back in?")
  }

  test("semDedup cell count scales with corpus size (bounded per-cell pairs)") {
    // floor respected on small corpora
    assert(Similarity.effectiveClusters(100, 32, 4096) === 32)
    assert(Similarity.effectiveClusters(0, 2, 4096) === 2)
    val k1 = Similarity.effectiveClusters(1L << 20, 32, 4096)
    val k2 = Similarity.effectiveClusters(1L << 21, 32, 4096)
    assert(k1 === 256 && k2 === 512) // doubling n doubles cells…
    // …so total expected within-cell pairs ~ n²/k grow linearly with n,
    // never quadratically (the fixed-k failure mode)
    val pairs1 = (1L << 20).toDouble * (1L << 20) / k1
    val pairs2 = (1L << 21).toDouble * (1L << 21) / k2
    assert(pairs2 / pairs1 === 2.0)
  }

  test("semDedup drops within-cluster semantic dups, keeping the centroid-farthest") {
    // two well-separated groups; group 1 = exact dup pair {1,2} + near
    // dup 3 (cos ≈ 0.995 to them), group 2 = exact dup pair {10,11}.
    // tau=0.99 makes group 1 one mutual-duplicate clique: its survivor
    // is the centroid-FARTHEST member (id 3 — the paper's keep-low-
    // centroid-similarity rule preserves the cluster edge); group 2's
    // survivor is the id tiebreak (10).
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(1f, 0f, 0f, 0f)),
      (3L, Seq(1.1f, 0.11f, 0f, 0f)),
      (10L, Seq(0f, 1f, 0f, 0f)),
      (11L, Seq(0f, 1f, 0f, 0f)),
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(vecs, nClusters = 2, tau = 0.99)
    assert(kept.select("vec_id").as[Long].collect().toSet === Set(3L, 10L))
    // deterministic under the seed: a second run keeps the same rows
    assert(Similarity.semDedup(vecs, nClusters = 2, tau = 0.99)
      .select("vec_id").as[Long].collect().toSet === Set(3L, 10L))
    // orthogonal members never pair: raising tau above any true pair
    // keeps everything
    assert(Similarity.semDedup(vecs, nClusters = 2, tau = 1.01).count() === 5)
  }

  test("semDedup exact-dup recall is clustering-independent") {
    // identical vectors always co-cluster, so exact dups drop no matter
    // where KMeans draws its borders (k=2 over a cloud with no 2-cluster
    // structure: assignments are arbitrary but identical-vector groups
    // can never split)
    val vecs = (0L until 40L).map(i =>
      (i, Seq((i % 8).toFloat + 1f, ((i * 3) % 5).toFloat, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val planted = vecs.filter($"vec_id" < 10)
      .select(($"vec_id" + 100).as("vec_id"), $"embedding")
    val kept = Similarity.semDedup(vecs.unionByName(planted),
      nClusters = 2, tau = 0.999999)
    // every planted copy pairs with its original; originals win the id
    // tiebreak at equal centroid distance... unless the original itself
    // had an identical twin in the corpus — either way exactly one
    // survivor per identical-vector group
    val ids = kept.select("vec_id").as[Long].collect().toSet
    assert(!ids.exists(_ >= 100), s"planted exact dups must drop: $ids")
    assert(kept.count() === vecs.dropDuplicates("embedding").count())
  }

  test("semDedupTable over the serving table == in-memory semDedup, restartable per cell") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 200L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val planted = base.filter(_._1 % 9 == 0)
      .map { case (id, v) => (id + 1000, v) } // exact copies
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val inMemory = Similarity.semDedup(df, nClusters = 6, tau = 0.99)
      .select("vec_id").as[Long].collect().toSet
    // same index parameters → same assignment → identical survivors
    val path = tmpDir("semdedup-table-") + "/ivf"
    Similarity.writeIvfTable(df, path, nCells = 6)
    val fromTable = Similarity.semDedupTable(spark, path, tau = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(fromTable === inMemory)
    // restartability: per-cell batches union to exactly the full result
    // (the survivor rule never crosses cells)
    val cells = spark.read.parquet(path).select("ivf_cell")
      .distinct().as[Int].collect().toSeq.sorted
    val (batch1, batch2) = cells.splitAt(cells.length / 2)
    val unioned = Seq(batch1, batch2).filter(_.nonEmpty).map(b =>
      Similarity.semDedupTable(spark, path, tau = 0.99, cells = Some(b))
        .select("vec_id").as[Long].collect().toSet)
      .reduce(_ ++ _)
    assert(unioned === fromTable)
    // plan pin: a cell-restricted pass scans ONLY those cells' partitions
    // (the property that makes per-cell batching O(batch), not O(table))
    import org.apache.spark.sql.execution.FileSourceScanExec
    val restricted = Similarity.semDedupTable(spark, path, tau = 0.99,
      cells = Some(batch1))
    // sparkPlan, not executedPlan: AQE's adaptive root hides the scan
    // nodes from a pre-execution collect
    val scans = restricted.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    scans.foreach { scan =>
      assert(scan.metadata("PartitionFilters").contains("ivf_cell"),
        s"unpruned scan: ${scan.metadata("PartitionFilters")}")
      assert(scan.selectedPartitions.partitionCount === batch1.length,
        s"expected ${batch1.length} partitions, " +
          s"got ${scan.selectedPartitions.partitionCount}")
    }
  }

  test("approx_count_distinct stays within 5% of exact (HLL++ contract)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(100000).select((col("id") % 7777).as("k"))
    val (approx, exact) = df.agg(
      approx_count_distinct(col("k"), 0.01).as("a"), countDistinct("k").as("e"))
      .as[(Long, Long)].collect().head
    assert(math.abs(approx - exact).toDouble / exact < 0.03,
      s"approx=$approx exact=$exact")
  }

  test("graft_lsh_bucket expression == higher-order formulation, bit for bit") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(19)
    val vecs = (0 until 500).map(i =>
      (i.toLong, Seq.fill(24)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(10, 24, 42L)
    val mismatches = df.select(
        Similarity.lshBucket(col("embedding"), planes).as("fast"),
        SimilarityHof.lshBucketHof(col("embedding"), planes).as("hof"))
      .filter(col("fast") =!= col("hof")).count()
    assert(mismatches === 0)
    // degenerate inputs too: null vector, null element, dim mismatch all
    // bucket to 0 in the HOF reference — the expression must agree
    val degen = Seq(
      (1L, None: Option[Seq[Option[Float]]]),
      (2L, Some(Seq(Some(1f), None))),              // null element
      (3L, Some(Seq(Some(1f), Some(2f), Some(3f)))) // dim mismatch (3 != 24)
    ).toDF("vec_id", "embedding")
    val dm = degen.select(
        Similarity.lshBucket(col("embedding"), planes).as("fast"),
        SimilarityHof.lshBucketHof(col("embedding"), planes).as("hof"))
      .collect()
    dm.foreach { r =>
      assert(!r.isNullAt(0) && r.getLong(0) === 0L, s"fast: $r")
      assert((if (r.isNullAt(1)) 0L else r.getLong(1)) === 0L, s"hof: $r")
    }
  }

  test("hyperplanes are deterministic under a seed") {
    assert(Similarity.hyperplanes(4, 8, 42L) === Similarity.hyperplanes(4, 8, 42L))
    assert(Similarity.hyperplanes(4, 8, 42L) !== Similarity.hyperplanes(4, 8, 43L))
  }

  test("graft_cosine kernel == higher-order cosine, bit-identical, " +
      "including NULL / zero / NaN / mismatch edges") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(31)
    val rows: Seq[(Long, Seq[java.lang.Double], Seq[java.lang.Double])] =
      (0 until 300).map { i =>
        (i.toLong,
          Seq.fill(12)(java.lang.Double.valueOf(rnd.nextGaussian())),
          Seq.fill(12)(java.lang.Double.valueOf(rnd.nextGaussian())))
      } ++ Seq(
        // zero-norm sides → 0.0
        (1000L, Seq.fill(12)(java.lang.Double.valueOf(0.0)),
          Seq.fill(12)(java.lang.Double.valueOf(1.0))),
        // NaN element → NaN norm; Spark orders NaN LARGEST so the
        // HOF's n > 0 gate passes and the NaN division surfaces
        (1001L, java.lang.Double.valueOf(Double.NaN) +:
          Seq.fill(11)(java.lang.Double.valueOf(1.0)),
          Seq.fill(12)(java.lang.Double.valueOf(1.0))),
        // NULL element → 0.0
        (1002L, (null: java.lang.Double) +:
          Seq.fill(11)(java.lang.Double.valueOf(1.0)),
          Seq.fill(12)(java.lang.Double.valueOf(1.0))),
        // dimension mismatch with positive norms → SQL NULL
        (1003L, Seq.fill(8)(java.lang.Double.valueOf(1.0)),
          Seq.fill(12)(java.lang.Double.valueOf(1.0))))
    val df = rows.toDF("id", "a", "b")
    // bit-identity: compare the raw doubles (and NULL-ness) directly
    val bad = df.select(col("id"),
        call_function("graft_cosine", col("a"), col("b")).as("fast"),
        Similarity.cosine(col("a"), col("b")).as("hof"))
      .filter(!(col("fast") <=> col("hof"))).count()
    assert(bad === 0)
    // and the documented edge outcomes hold
    val byId = df.select(col("id"),
        call_function("graft_cosine", col("a"), col("b")).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
      .toMap
    assert(byId(1000L) === 0.0 && byId(1002L) === 0.0)
    assert(byId(1001L) != null && byId(1001L).isNaN)
    assert(byId(1003L) === null)
  }
}
