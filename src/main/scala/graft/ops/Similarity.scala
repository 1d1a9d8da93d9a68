package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Vector similarity search over an `array<float>` embedding column.
  *
  * Two paths, per the standard ANN playbook:
  *  - brute-force cosine top-k: one scan + TakeOrderedAndProject. Optimal
  *    baseline; at 100 TB it is embarrassingly parallel and moves only k
  *    rows per partition to the driver-side heap.
  *  - LSH (random-hyperplane) bucketed search: signature precomputed per
  *    row (map-only), candidates = signature-equal rows (hash lookup /
  *    partition-pruned scan when the table is written partitioned by
  *    bucket), exact re-rank within candidates. Multiprobe widens recall.
  *
  * All math uses higher-order built-ins (`zip_with`/`aggregate`) — codegen,
  * no UDF, no driver collect.
  */
object Similarity {

  /** Dot product of two array<float/double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v))

  /** Cosine similarity; 0 where either side has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n > 0, d / n).otherwise(lit(0.0d))
  }

  private def vecLit(v: Seq[Float]): Column =
    array(v.map(x => lit(x.toDouble)): _*)

  /** Map-only cosine scoring against a constant query vector: (id,
    * cosine_sim) for every row. Callers apply their own top-k cut (possibly
    * on a rounded key for oracle-stable ties). */
  def bruteForceCosine(embeddings: DataFrame, query: Seq[Float],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    // codegen'd fused kernel, bit-identical to the previous HOF form
    // (dot / (l2Norm(vec) * l2Norm(query)), each sum left-to-right; the
    // query-side norm equals the old driver-computed qn) — the HOF paid
    // ~3·dim interpreted lambda dispatches per row on every re-rank
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(col(idCol),
      call_function("graft_cosine",
        col(vecCol).cast("array<double>"), vecLit(query)).as("cosine_sim"))
  }

  /** Brute-force cosine top-k against a constant query vector. */
  def bruteForceTopK(embeddings: DataFrame, query: Seq[Float], k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    bruteForceCosine(embeddings, query, idCol, vecCol)
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)

  /** Deterministic random hyperplanes (seeded) — `numPlanes` × `dim`. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Float]] = {
    val rnd = new Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)((rnd.nextGaussian()).toFloat))
  }

  /** Sign-bit LSH bucket id for a vector column under the given planes.
    * Map-only; write the table partitioned/bucketed by this column to get
    * partition-pruned candidate lookup at serving time.
    *
    * Uses the custom `graft_lsh_bucket` expression — one scalar pass per
    * row instead of numPlanes interpreted higher-order dots (the same ~20×
    * constant the MinHash expressions buy; SimilaritySpec pins it against
    * the higher-order twin `SimilarityHof.lshBucketHof` in test sources).
    * Callers must have GraftFunctions registered (every public entry
    * point here does). */
  def lshBucket(vec: Column, planes: Seq[Seq[Float]]): Column =
    call_function("graft_lsh_bucket", vec.cast("array<double>"),
      typedlit(planes.map(_.map(_.toDouble))))

  /** LSH-bucketed ANN top-k: prune to buckets within `probeHamming` bits
    * of the query's bucket (multiprobe), then exact cosine re-rank.
    * The bucket predicate is a literal comparison → pushed to the scan;
    * with the table partitioned by bucket this reads only probed
    * partitions. */
  def lshTopK(embeddings: DataFrame, query: Seq[Float], k: Int,
              numPlanes: Int = 12, probeHamming: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding",
              seed: Long = 42L): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val planes = hyperplanes(numPlanes, query.size, seed)
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (a, b) => a.toDouble * b }.sum
      if (d >= 0) 1L << i else 0L
    }.sum
    val bucketed = embeddings.withColumn("__bucket",
      lshBucket(col(vecCol), planes))
    val pruned = bucketed.filter(
      bit_count(col("__bucket").bitwiseXOR(lit(qBucket))) <= probeHamming)
    bruteForceTopK(pruned, query, k, idCol, vecCol)
  }

  /** IVF (inverted-file) ANN index: a KMeans coarse quantizer assigns each
    * vector to its nearest centroid; at query time only the `nProbe`
    * closest centroid partitions are scanned, then exact cosine re-ranks.
    *
    * The standard scale path for billion-vector search (FAISS IVF-Flat
    * shape): write the table partitioned by `ivf_cell` and the cell
    * predicate becomes partition pruning — a query scans nProbe/nCells of
    * the data. Training samples at most `trainSampleSize` vectors to the
    * driver-side KMeans fit; assignment is a broadcast map-side pass. */
  final case class IvfIndex(centroids: Array[Array[Double]],
                            assigned: DataFrame) {
    /** Cells ranked nearest-first for a query vector. */
    def probeCells(query: Seq[Float], nProbe: Int): Seq[Int] =
      centroids.zipWithIndex.map { case (c, i) =>
        val qd = query.map(_.toDouble).toArray
        val dot = c.zip(qd).map { case (a, b) => a * b }.sum
        val nc = math.sqrt(c.map(x => x * x).sum)
        val nq = math.sqrt(qd.map(x => x * x).sum)
        (i, if (nc > 0 && nq > 0) dot / (nc * nq) else 0.0)
      }.sortBy(-_._2).take(nProbe).map(_._1).toSeq
  }

  /** Build an IVF index over an embedding table: a seeded DRIVER-LOCAL
    * Lloyd's fit over a bounded sample (zero Spark jobs beyond the count
    * and the sample collect — a distributed KMeans here launches dozens of
    * tiny jobs whose scheduler round-trips dominate on a contended
    * cluster), then a single map-side assignment pass via the
    * `graft_nearest_cell` expression against the broadcast-literal
    * centroids. The sample is driver-sized by construction
    * (`trainSampleSize`), exactly like [[pqTrain]]'s codebook fit.
    *
    * `knownCount` skips the count job when the caller already has it. */
  def ivfIndex(embeddings: DataFrame, nCells: Int, idCol: String = "vec_id",
               vecCol: String = "embedding", seed: Long = 42L,
               trainSampleSize: Int = 100000, knownCount: Long = -1L): IvfIndex = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val projected = embeddings.select(col(vecCol).cast("array<float>"))
    val n = if (knownCount >= 0L) knownCount else projected.count()
    val frac = math.min(1.0, trainSampleSize.toDouble / math.max(n, 1L))
    val sample = (if (frac >= 1.0) projected else projected.sample(frac, seed))
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "ivfIndex needs a non-empty corpus")
    val cents = kmeansLocal(sample, nCells, iters = 10,
      new scala.util.Random(seed)).map(_.map(_.toDouble))
    val centLit = typedlit(cents.map(_.toSeq).toSeq)
    val assigned = embeddings.select(col(idCol), col(vecCol),
      call_function("graft_nearest_cell",
        col(vecCol).cast("array<double>"), centLit).as("ivf_cell"))
    IvfIndex(cents, assigned)
  }

  /** Nearest coarse centroid of `vec` by squared L2, lowest-index
    * tiebreak — the codegen'd kernel the higher-order reference
    * `SimilarityHof.nearestCellHof` (test sources) is pinned against.
    * Callers must have GraftFunctions registered (every serving entry
    * point does). */
  private[ops] def nearestCellExpr(vec: Column,
                                   centroids: Array[Array[Double]]): Column =
    call_function("graft_nearest_cell", vec.cast("array<double>"),
      typedlit(centroids.map(_.toSeq).toSeq))

  /** IVF ANN top-k: scan only the `nProbe` nearest cells, exact re-rank.
    * With `nProbe = nCells` this is exact brute force. */
  def ivfTopK(index: IvfIndex, query: Seq[Float], k: Int, nProbe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = index.probeCells(query, nProbe)
    bruteForceTopK(
      index.assigned.filter(col("ivf_cell").isin(cells: _*)),
      query, k, idCol, vecCol)
  }

  // ----------------------------------------------------- product quantization

  /** Trained PQ codebook: `m` subspaces × `k` centroids × `subDim`
    * floats. ~m·k·subDim·4 bytes — broadcast-literal sized by
    * construction (default 8×16×(d/8)). */
  final case class PqCodebook(m: Int, k: Int, subDim: Int,
                              centroids: Array[Array[Array[Float]]])

  /** Product quantization (Jégou et al. 2011, the FAISS `PQ` stage):
    * compress each vector to `m` small codes — one nearest-centroid id
    * per subspace — so a billion-vector corpus serves from m bytes/row
    * instead of 4·d. Training is a driver-side seeded Lloyd's run per
    * subspace over a BOUNDED sample (like [[ivfIndex]]'s sampled fit;
    * deterministic); encoding and serving are map-only Spark expressions
    * against broadcast-literal codebooks — no UDFs, no shuffles.
    *
    * For cosine ranking, L2-NORMALIZE vectors before training/encoding
    * and the query before [[pqTopK]] — inner product then equals cosine
    * and the ADC tables stay exact-in-expectation. */
  def pqTrain(embeddings: DataFrame, m: Int, k: Int = 16,
              vecCol: String = "embedding", seed: Long = 42L,
              sampleSize: Int = 10000, iters: Int = 10): PqCodebook = {
    // seeded uniform sample (ivfIndex's scheme) — a limit() would train
    // on whatever prefix the first partitions yield: biased to early
    // sources and order-unstable across plans
    val projected = embeddings.select(col(vecCol).cast("array<float>"))
    val n = projected.count()
    val frac = math.min(1.0, sampleSize.toDouble / math.max(n, 1L))
    val sample = (if (frac >= 1.0) projected
                  else projected.sample(frac, seed))
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pqTrain needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide by m=$m")
    val sub = dim / m
    val centroids = Array.tabulate(m) { j =>
      kmeansLocal(sample.map(_.slice(j * sub, (j + 1) * sub)),
        k, iters, new scala.util.Random(seed + j))
    }
    PqCodebook(m, k, sub, centroids)
  }

  /** Seeded driver-local Lloyd's over a bounded sample: deterministic,
    * zero Spark jobs (the sample already sits on the driver). Empty
    * clusters keep their previous centroid. Initialization draws from
    * DISTINCT sample points — when a subspace has ≤ k distinct patterns
    * the codebook covers every one exactly and quantization is lossless
    * (pinned by spec). */
  private def kmeansLocal(points: Array[Array[Float]], k: Int, iters: Int,
                          rnd: scala.util.Random): Array[Array[Float]] = {
    val distinct = points.map(_.toSeq).distinct.map(_.toArray)
    val kk = math.min(k, distinct.length)
    var cents = rnd.shuffle(distinct.indices.toVector).take(kk)
      .map(i => distinct(i).clone).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](points.head.length))
      val counts = new Array[Int](kk)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          var d = 0.0; var i = 0
          while (i < p.length) {
            val diff = p(i) - cents(c)(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(kk)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(s => (s / counts(c)).toFloat))
    }
    cents
  }

  /** Per-row PQ code array for `vec` under a frozen codebook — per
    * subspace, the index of the nearest codebook centroid; ties take
    * the first centroid deterministically. One fused codegen'd kernel
    * loop per row ([[graft.functions.HashKernels.pqCodes]] — the
    * previous per-subspace transform+aggregate+zip_with HOF stack paid
    * m × k interpreted distance folds with a zip_with allocation per
    * centroid per row; SimilaritySpec pins the kernel against that
    * formulation, kept in test sources as `SimilarityHof.pqCodesHof`).
    * Map-only; exposed for serving tables that store codes instead of
    * raw vectors ([[IvfPqServing]]). */
  def pqCodesExpr(vec: Column, cb: PqCodebook): Column =
    call_function("graft_pq_codes", vec.cast("array<double>"),
      typedlit(cb.centroids.map(_.map(_.map(_.toDouble).toSeq).toSeq).toSeq),
      lit(cb.subDim))

  /** Residual of `vec` against its nearest coarse centroid — FAISS
    * IVFADC's encoding input: `vec − centroids[cell]`, computed map-side
    * from broadcast centroid literals. Composing this with
    * [[pqCodesExpr]] quantizes residuals, which are smaller and more
    * isotropic than raw vectors, so the same code budget carries more
    * precision (Jégou et al. 2011 §IV). */
  def residualExpr(vec: Column, centroids: Array[Array[Double]]): Column = {
    val cents = typedlit(centroids.map(_.toSeq).toSeq)
    val vecD = vec.cast("array<double>")
    // nearest cell via the codegen'd kernel (pinned equal to
    // nearestCellHof in SimilaritySpec) — the HOF paid nCells × dim
    // interpreted lambda dispatches per encoded row
    zip_with(vecD,
      element_at(cents,
        call_function("graft_nearest_cell", vecD, cents) + 1),
      (x, y) => x - y)
  }

  /** Encode vectors to PQ codes. Returns (idCol, codes). */
  def pqEncode(embeddings: DataFrame, cb: PqCodebook,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(col(idCol), pqCodesExpr(col(vecCol), cb).as("codes"))
  }

  /** The asymmetric-distance score expression over a `codes` column:
    * the driver builds the m×k inner-product tables query-subvector ×
    * centroid once (broadcast literals), each row's score is m table
    * lookups summed — codegen'd, map-only. */
  def pqAdcScoreExpr(codes: Column, cb: PqCodebook,
                     query: Seq[Float]): Column = {
    val q = query.map(_.toDouble).toArray
    val tables = Array.tabulate(cb.m) { j =>
      cb.centroids(j).map { c =>
        var s = 0.0; var i = 0
        while (i < cb.subDim) { s += q(j * cb.subDim + i) * c(i); i += 1 }
        s
      }
    }
    val tableLit = array(tables.map(t =>
      array(t.map(lit): _*)): _*)
    (0 until cb.m).map(j =>
      element_at(element_at(tableLit, j + 1),
        element_at(codes, j + 1) + 1)).reduce(_ + _)
  }

  /** Codebook sidecar round-trip: per-subspace centroid counts may be
    * below the requested k (a subspace with fewer distinct patterns
    * trains fewer centroids), so each centroid line carries its
    * subspace index. */
  def pqCodebookToText(cb: PqCodebook): String =
    (s"${cb.m},${cb.k},${cb.subDim}" +:
      cb.centroids.zipWithIndex.flatMap { case (cs, j) =>
        cs.map(c => s"$j:${c.mkString(",")}")
      }.toSeq).mkString("\n")

  def pqCodebookFromText(text: String): PqCodebook = {
    val lines = text.split("\n")
    val Array(m, k, subDim) = lines.head.split(",").map(_.toInt)
    val byJ = lines.tail.map { l =>
      val Array(j, vals) = l.split(":", 2)
      j.toInt -> vals.split(",").map(_.toFloat)
    }
    PqCodebook(m, k, subDim,
      Array.tabulate(m)(j => byJ.filter(_._1 == j).map(_._2)))
  }

  /** PQ top-k via asymmetric distance computation: the driver builds the
    * m×k inner-product tables query-subvector × centroid once, and each
    * row's approximate score is m table lookups summed — a codegen'd
    * map-only pass over m-byte codes followed by TakeOrderedAndProject.
    * Scores round to 4 decimals BEFORE the cut with an id tiebreak
    * (stable top-k, as the other ANN paths). */
  def pqTopK(codes: DataFrame, cb: PqCodebook, query: Seq[Float], k: Int,
             idCol: String = "vec_id"): DataFrame =
    codes.select(col(idCol),
        round(pqAdcScoreExpr(col("codes"), cb, query), 4).as("pq_score4"))
      .orderBy(col("pq_score4").desc, col(idCol).asc)
      .limit(k)

  // ---------------------------------------------------------------- SemDeDup

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication over an embedding column — the LLM-curation step that
    * removes *meaning-level* duplicates exact/MinHash dedup cannot see.
    * Vectors are clustered by a sampled KMeans fit ([[ivfIndex]]'s
    * coarse quantizer; assignment is one map-side pass) and every
    * within-cluster pair with cosine ≥ `tau` is a semantic duplicate.
    * Of each duplicate pair the member FARTHER from its centroid
    * survives — the paper's keep-low-centroid-similarity rule, which
    * preserves cluster-edge diversity — with an id tiebreak so the
    * result is deterministic.
    *
    * Scale shape: the all-pairs comparison is confined to clusters —
    * O(Σ cluster²) with clusters sized ~N/k, never corpus-wide — and the
    * self-join shuffles (cluster, id, vector, centroid_sim) once on the
    * cluster id. Centroid similarities are computed map-side against a
    * broadcast literal (k × dim doubles). Exact duplicates always share
    * a cluster (identical vectors assign identically), so guaranteed
    * recall there; near-dup recall degrades only across cluster borders,
    * the paper's own approximation. At larger scale, persist the
    * assignment cell-partitioned ([[writeIvfTable]]) and dedup per cell.
    *
    * `nClusters` is a FLOOR, not the cell count: the effective k is
    * `max(nClusters, ceil(n / targetCellSize))` ([[effectiveClusters]]),
    * so cells stay ~`targetCellSize` vectors as the corpus grows and the
    * within-cell self-join is O(n · targetCellSize) — linear in n — not
    * O((n/k)² · k), which at a fixed k grows quadratically with a 100×
    * corpus. (The paper's k ∝ corpus size; k≈√N yields √N-sized cells —
    * a fixed target cell size is the same bound with an explicit memory
    * knob.)
    *
    * Returns the KEPT rows of `embeddings`, all original columns. */
  def semDedup(embeddings: DataFrame, nClusters: Int, tau: Double,
               idCol: String = "vec_id", vecCol: String = "embedding",
               seed: Long = 42L, trainSampleSize: Int = 100000,
               targetCellSize: Int = 4096): DataFrame = {
    val n = embeddings.count()
    val k = effectiveClusters(n, nClusters, targetCellSize)
    val idx = ivfIndex(embeddings, k, idCol, vecCol, seed,
      trainSampleSize, knownCount = n)
    embeddings.join(
      semDedupDropped(idx.assigned, idx.centroids, tau, idCol, vecCol),
      Seq(idCol), "left_anti")
  }

  /** The ids SemDeDup drops, given an assigned (id, vec, ivf_cell) frame
    * and its centroids — the within-cell pair rule shared by the
    * in-memory path ([[semDedup]]) and the serving-table path
    * ([[semDedupTable]]). A row drops iff SOME ≥tau neighbor in its cell
    * ranks lower on (centroid_sim, id) — exactly one survivor per
    * mutually-duplicate group, the paper's keep-low-centroid-similarity
    * rule with an id tiebreak. */
  private def semDedupDropped(assigned: DataFrame,
                              centroids: Array[Array[Double]], tau: Double,
                              idCol: String, vecCol: String): DataFrame = {
    val centLit = typedlit(centroids.map(_.toSeq).toSeq)
    // centroid similarity is computed map-side (pre-shuffle) in double,
    // but the self-join carries the SOURCE vector type: embeddings are
    // float in every serving path, so casting to array<double> before the
    // join would double the pair frame's shuffle width (at production
    // dims, the dominant bytes). The cast moves inside the post-join
    // cosine — identical values (cast-then-compute either way), half the
    // wire format.
    graft.functions.GraftFunctions.register(assigned.sparkSession)
    val vecD = col(vecCol).cast("array<double>")
    val pts = assigned.withColumn("__cent_sim",
      call_function("graft_cosine", vecD,
        element_at(centLit, col("ivf_cell") + 1)))
    def side(sfx: String) = pts.select(col("ivf_cell"),
      col(idCol).as(s"id$sfx"), col(vecCol).as(s"vec$sfx"),
      col("__cent_sim").as(s"cs$sfx"))
    side("_a").join(side("_b"), Seq("ivf_cell"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("cs_b") < col("cs_a") ||
        (col("cs_b") === col("cs_a") && col("id_b") < col("id_a")))
      .filter(call_function("graft_cosine",
        col("vec_a").cast("array<double>"),
        col("vec_b").cast("array<double>")) >= tau)
      .select(col("id_a").as(idCol)).distinct()
  }

  /** SemDeDup over a persisted [[writeIvfTable]] serving table — the
    * at-scale path the in-memory [[semDedup]] docs promise: assignments
    * and centroids come FROM the table (the quantizer never re-runs), and
    * because the survivor rule needs nothing outside a row's own cell,
    * each `ivf_cell=` partition dedups independently — `cells` restricts
    * the pass to a subset of cells (partition-pruned scan), which is what
    * makes a 100 TB semantic-dedup RESTARTABLE: process cells in batches,
    * checkpoint survivors per batch, re-run only unfinished cells.
    * Returns the KEPT rows (idCol, vecCol, ivf_cell); identical survivors
    * to the in-memory path for the same index parameters (spec-pinned). */
  def semDedupTable(spark: org.apache.spark.sql.SparkSession, path: String,
                    tau: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    cells: Option[Seq[Int]] = None): DataFrame = {
    val cents = readCentroids(spark, path)
    val full = spark.read.parquet(path)
    val assigned = cells.fold(full)(cs =>
      full.filter(col("ivf_cell").isin(cs: _*)))
    assigned.join(
      semDedupDropped(assigned, cents, tau, idCol, vecCol),
      Seq(idCol), "left_anti")
  }

  /** [[semDedup]]'s cell-count rule: the caller's `floorClusters` is a
    * minimum; above `floorClusters * targetCellSize` vectors the cell
    * count grows linearly with n so the expected cell size — and with it
    * the per-cell pair count — stays constant. Doubling the corpus
    * doubles cells (and pairs), never quadruples pairs. */
  def effectiveClusters(n: Long, floorClusters: Int, targetCellSize: Int): Int = {
    require(targetCellSize > 0, "targetCellSize must be positive")
    val scaled = math.ceil(n.toDouble / targetCellSize)
      .min(Int.MaxValue.toDouble).toInt
    math.max(floorClusters, scaled)
  }

  // ------------------------------------------------- persisted serving path

  /** Write an IVF index as a SERVING TABLE: the assigned vectors land in a
    * parquet table hive-partitioned by `ivf_cell`, and the centroids in a
    * small sidecar file. This is the build-once/serve-many shape real ANN
    * systems use — [[ivfProbeTopK]] then reads only the probed cells'
    * partitions (partition pruning, no index rebuild per query). At 100 TB
    * a query with nProbe=4 of 4096 cells scans ~0.1% of the table. */
  def writeIvfTable(embeddings: DataFrame, path: String, nCells: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    seed: Long = 42L): Unit = {
    val idx = ivfIndex(embeddings, nCells, idCol, vecCol, seed)
    // cluster rows by cell before the partitioned write: one task per
    // cell → one file per cell, instead of (tasks × cells) small files
    idx.assigned.repartition(col("ivf_cell"))
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    Sidecar.write(embeddings.sparkSession, path, "_centroids.csv",
      idx.centroids.map(_.mkString(",")).mkString("\n"))
  }

  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String): Array[Array[Double]] =
    Sidecar.read(spark, path, "_centroids.csv")
      .split("\n").map(_.split(",").map(_.toDouble))

  /** Probe-read top-k over a table written by [[writeIvfTable]]: rank the
    * centroids driver-side (tiny — nCells vectors), scan ONLY the nProbe
    * nearest `ivf_cell=` partitions (the IN-predicate lands in the scan's
    * PartitionFilters), exact cosine re-rank. The `cosine_sim` ties are cut
    * on the 4-decimal rounded value with id tiebreak so results are stable
    * across engines. */
  def ivfProbeTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   query: Seq[Float], k: Int, nProbe: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val cells = IvfIndex(readCentroids(spark, path), null)
      .probeCells(query, nProbe)
    val pruned = spark.read.parquet(path)
      .filter(col("ivf_cell").isin(cells: _*))
    bruteForceCosine(pruned, query, idCol, vecCol)
      .select(col(idCol), round(col("cosine_sim"), 4).as("sim4"))
      .orderBy(col("sim4").desc, col(idCol).asc)
      .limit(k)
  }

  /** Write an LSH serving table partitioned by the sign-bit bucket — the
    * persisted form the [[lshBucket]] docs promise: probe reads prune to
    * the multiprobe bucket set. The plane spec (numPlanes, dim, seed) is
    * persisted as a sidecar so probes always recompute the SAME planes —
    * a caller-supplied mismatch would silently probe wrong buckets. */
  def writeLshTable(embeddings: DataFrame, path: String, numPlanes: Int,
                    dim: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding", seed: Long = 42L): Unit = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val planes = hyperplanes(numPlanes, dim, seed)
    embeddings.select(col(idCol), col(vecCol),
        lshBucket(col(vecCol), planes).as("lsh_bucket"))
      // cluster by bucket first: one file per bucket, not tasks × buckets
      .repartition(col("lsh_bucket"))
      .write.mode("overwrite").partitionBy("lsh_bucket").parquet(path)
    Sidecar.write(embeddings.sparkSession, path, "_lshspec.csv",
      s"$numPlanes,$dim,$seed")
  }

  /** Sign-bit bucket of a driver-side query vector under `planes` —
    * the same bit order as [[lshBucket]]'s column form. */
  def queryBucket(planes: Seq[Seq[Float]], query: Seq[Float]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (a, b) => a.toDouble * b }.sum
      if (d >= 0) 1L << i else 0L
    }.sum

  /** Multiprobe bucket enumeration: every bucket id within `radius` bit
    * flips of `bucket` (each fold step widens the frontier by one). */
  def multiprobeBuckets(bucket: Long, numPlanes: Int,
                        radius: Int): Seq[Long] =
    (1 to radius).foldLeft(Set(bucket)) { (acc, _) =>
      acc ++ acc.flatMap(b => (0 until numPlanes).map(i => b ^ (1L << i)))
    }.toSeq.sorted

  /** Probe-read top-k over a [[writeLshTable]] table: enumerate buckets
    * within `probeHamming` bits of the query's bucket (multiprobe) as a
    * literal IN-list → partition pruning on `lsh_bucket`, then exact
    * re-rank. Planes come from the table's sidecar spec, never the caller. */
  def lshProbeTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   query: Seq[Float], k: Int,
                   probeHamming: Int = 1, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val Array(np, dim, seed) =
      Sidecar.read(spark, path, "_lshspec.csv").split(",").map(_.toLong)
    val numPlanes = np.toInt
    require(dim == query.size,
      s"query dim ${query.size} != indexed dim $dim at $path")
    val planes = hyperplanes(numPlanes, query.size, seed)
    val buckets = multiprobeBuckets(
      queryBucket(planes, query), numPlanes, probeHamming)
    val pruned = spark.read.parquet(path)
      .filter(col("lsh_bucket").isin(buckets: _*))
    // cut on the ROUNDED similarity with id tiebreak (same as
    // ivfProbeTopK): cutting on raw doubles and rounding after would
    // reintroduce cross-engine tie instability at the k boundary
    bruteForceCosine(pruned, query, idCol, vecCol)
      .select(col(idCol), round(col("cosine_sim"), 4).as("sim4"))
      .orderBy(col("sim4").desc, col(idCol).asc)
      .limit(k)
  }

  /** Embedding near-duplicate pairs: LSH-bucket join + exact cosine verify
    * within buckets — the embedding analog of Dedup.minhashNearDupPairs. */
  def embeddingNearDupPairs(embeddings: DataFrame, dim: Int,
                            threshold: Double = 0.95, numPlanes: Int = 8,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            seed: Long = 42L,
                            maxBucketSize: Int = 1000): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val planes = hyperplanes(numPlanes, dim, seed)
    val bucketed = Partitioning.spread(embeddings).select(col(idCol).as("id"),
      col(vecCol).as("vec"), lshBucket(col(vecCol), planes).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Candidate id pairs from id-only bucket groups (one shuffle of
    // (bucket, id)); vectors — the heavy payload — are fetched back for
    // candidate rows only instead of riding both sides of a self-join.
    // `maxBucketSize` guards a hot LSH bucket (e.g. near-zero vectors all
    // landing in one sign pattern) from an O(n²) in-array pair blowup.
    // Buckets over the cap are DROPPED (recall loss) — the drop count is
    // observed in-job and WARN-logged (Diagnostics.observeDrops), never
    // silent.
    Dedup.pairsWithinGroups(bucketed.select("bucket", "id"), Seq("bucket"),
        "id", maxBucketSize)
      .join(bucketed.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(bucketed.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("graft_cosine",
          col("vec_a").cast("array<double>"),
          col("vec_b").cast("array<double>")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  // ---------------------------------------------------------- quantization

  /** Scalar int8 quantization: per-vector affine map of each element to
    * [-128, 127] (`q = round((v - min) / scale) - 128`, scale =
    * (max - min) / 255). 4x memory/IO over float32 — the standard first
    * compression step for billion-vector ANN serving (a quantized table
    * scan reads a quarter of the bytes; re-rank fetches float vectors for
    * the shortlist only). Map-only, engine-exact arithmetic (all-double
    * IEEE ops + round-half-up on nonnegative values), so the DuckDB
    * oracle replays it bit-for-bit. Flat vectors (max == min) quantize to
    * all -128 with scale 0 and dequantize back to the constant. */
  def quantizeInt8(embeddings: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // materialize min/scale as COLUMNS before the transform: expression
    // trees captured inside a HOF lambda re-evaluate per element
    // (subexpression elimination does not reach into lambdas), which
    // would make the map pass O(d^2) per vector at embedding dims
    val mn = array_min(v)
    val scale = (array_max(v) - mn) / lit(255.0d)
    val safe = when(col("q_scale") === 0.0d, 1.0d).otherwise(col("q_scale"))
    embeddings
      .select(col(idCol), v.as("__v"), scale.as("q_scale"), mn.as("q_min"))
      .select(col(idCol),
        transform(col("__v"),
          x => (round((x - col("q_min")) / safe) - 128).cast("int")).as("q"),
        col("q_scale"), col("q_min"))
  }

  /** Inverse of [[quantizeInt8]]: `v ≈ (q + 128) * q_scale + q_min`
    * (max per-element error `q_scale / 2`). */
  def dequantizeInt8(q: Column, scale: Column, min: Column): Column =
    transform(q, x => (x + 128) * scale + min)
}
