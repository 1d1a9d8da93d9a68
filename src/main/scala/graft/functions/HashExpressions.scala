package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the signature-heavy dedup operators.
  *
  * Spark's higher-order array functions (transform/aggregate/zip_with) are
  * interpreted per element — a 128-hash MinHash over ~50 shingles costs
  * ~6.4k lambda dispatches per row. These expressions do the same math in
  * one tight JVM loop per row (measured ~20× on the documents corpus).
  * They are pure scalar expressions: map-only, partition-parallel, no
  * state — safe at any scale.
  *
  * Each expression implements REAL `doGenCode` — a single static call into
  * [[HashKernels]] — so the hot dedup projections stay inside whole-stage
  * codegen instead of paying the CodegenFallback row materialization;
  * interpreted `eval` delegates to the identical kernel, and
  * HashExpressionsSpec pins both against the built-in higher-order
  * formulations bit-for-bit. */

/** array<string> shingles → array<long> k-permutation MinHash signature.
  *
  * Bit-for-bit identical to the built-in higher-order formulation
  * `transform(sequence(0, k-1), i -> array_min(transform(hashes, h ->
  * xxhash64(h, i))))` over `hashes = transform(shingles, xxhash64)`:
  * h0 = xxhash64(shingle) = hashUnsafeBytes(s, 42); then Spark's binary
  * xxhash64(h0, i) chains hashLong(h0, 42) → hashInt(i, ·). Keeping the
  * families equal makes the expression a drop-in swap verified by
  * HashExpressionsSpec. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashFromStrings(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.minhashFromStrings($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** array<string> tokens → array<string> distinct n-token shingle strings,
  * first-occurrence order — same output as the higher-order formulation
  * `array_distinct(transform(sequence(...), i -> concat_ws(" ",
  * slice(toks, i+1, n))))` (Dedup.wordShingles), evaluated in one loop
  * (no per-lambda interpretation). Shorter-than-n docs yield the whole
  * text as one shingle. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.wordShingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** array<string> tokens → array<long> distinct hashes of n-token shingles.
  *
  * Replaces "build shingle strings, then hash them": each token is hashed
  * once (xxhash64, seed 42) and the shingle hash is the chained
  * hashLong-combine of its n token hashes — no string concatenation, no
  * intermediate arrays, one pass. Order-sensitive like the string form.
  * Shorter-than-n docs yield one whole-doc shingle hash (mirrors
  * Dedup.wordShingles' fallback). */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.shingleHashes(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.shingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** array<long> shingle hashes → array<long> k-permutation MinHash
  * signature. Same permutation family as [[MinHashSignature]] but skips
  * the string hash (inputs are already hashed): per element,
  * h1 = hashLong(x, 42), then permutation k = hashInt(k, h1). */
case class MinHashFromHashes(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_hashes"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashFromHashes(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.minhashFromHashes($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashFromHashes =
    copy(child = newChild)
}

/** array<string> tokens → 64-bit SimHash. Bit-for-bit identical to the
  * higher-order-function formulation (per-token xxhash64 seed 42, ±1 vote
  * per bit, sign → bit), just evaluated in one loop. */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** array<double> vector × literal hyperplanes → sign-bit LSH bucket id.
  * Same math as the higher-order formulation (per-plane zip_with dot,
  * accumulated left-to-right in doubles, bit set when dot >= 0 — see
  * SimilarityHof.lshBucketHof in test sources) in one loop per row: numPlanes interpreted
  * HOF dots collapse into a single scalar pass over the vector. */
case class LshBucketId(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_lsh_bucket"

  /** Degenerate inputs follow the HOF reference exactly: a NULL vector, a
    * NULL element, or a dimension mismatch NULLs every per-plane dot there
    * (zip_with pads with NULL, NULL * x = NULL), and `when(null >= 0)`
    * takes the otherwise(0) branch — so the bucket is 0L, never NULL. */
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else HashKernels.lshBucket(v.asInstanceOf[ArrayData], planes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    ev.copy(code = c.code + code"""
      final long ${ev.value} = ${c.isNull} ? 0L :
        graft.functions.HashKernels.lshBucket(${c.value}, $ref);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketId =
    copy(child = newChild)
}

/** array<double> vector × literal centroids → index (int) of the nearest
  * centroid by squared L2; ties keep the lowest index. One tight loop per
  * row, replacing the transform+array_position HOF pair (interpreted per
  * element — nCells × dim lambda dispatches per row). Degenerate inputs
  * (NULL vector, NULL element, dimension mismatch vs every centroid)
  * assign cell 0, mirroring the HOF formulation where a NULL distance
  * never wins `array_min`. */
case class NearestCell(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_nearest_cell"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else HashKernels.nearestCell(v.asInstanceOf[ArrayData], centroids)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    ev.copy(code = c.code + code"""
      final int ${ev.value} = ${c.isNull} ? 0 :
        graft.functions.HashKernels.nearestCell(${c.value}, $ref);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

/** Pairwise cosine similarity (array<double>, array<double>) → double —
  * the codegen'd twin of [[graft.ops.Similarity.cosine]]'s higher-order
  * formulation, bit-identical by construction (one fused left-to-right
  * loop per row; see [[HashKernels.cosinePair]] for the exact NULL /
  * mismatch / zero-norm semantics). NOT null-intolerant: a NULL input
  * array yields 0.0 (matching the HOF's otherwise(0.0)), and only a
  * dimension mismatch with positive norms yields SQL NULL — so eval and
  * codegen handle nulls explicitly instead of the nullSafe shortcuts. */
case class CosinePair(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    HashKernels.cosinePair(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val boxed = ctx.freshName("cosBoxed")
    ev.copy(code = a.code + b.code + code"""
      final java.lang.Double $boxed = graft.functions.HashKernels.cosinePair(
        ${a.isNull} ? null : ${a.value}, ${b.isNull} ? null : ${b.value});
      final boolean ${ev.isNull} = ($boxed == null);
      final double ${ev.value} = ${ev.isNull} ? 0.0d : $boxed.doubleValue();""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosinePair =
    copy(left = newLeft, right = newRight)
}

/** array<double> vector × literal PQ codebook → array<int> of
  * per-subspace nearest-centroid codes ([[HashKernels.pqCodes]]): the
  * PQ encode projection as one fused loop per row instead of m × k
  * interpreted HOF distance folds. The output array is never null;
  * elements are null exactly where the HOF formulation's were (short /
  * null-element subvectors, no winnable centroid). */
case class PqCodes(child: Expression, cents: Array[Array[Array[Double]]],
                   subDim: Int) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_pq_codes"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    HashKernels.pqCodes(v.asInstanceOf[ArrayData], cents, subDim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("pqCents", cents, "double[][][]")
    ev.copy(code = c.code + code"""
      final org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        graft.functions.HashKernels.pqCodes(
          ${c.isNull} ? null : ${c.value}, $ref, $subDim);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** (array<string>, array<string>) or (array<long>, array<long>) →
  * exact set-Jaccard similarity as double ([[HashKernels.jaccardSim]] /
  * [[HashKernels.jaccardSimLong]]) — result-identical to the
  * `size(array_intersect)/size(array_union)` formulation it replaces
  * on the near-dup verify paths, one pass instead of four set/array
  * materializations per candidate pair. The kernel is picked by the
  * left child's element type (string → hash-set pass, long →
  * sort-merge over primitive scratch arrays). Nullable (NULL array, or
  * the builtin division's null on an empty union), so eval and codegen
  * handle nulls explicitly like [[CosinePair]]. */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {

  private lazy val isLong: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_jaccard"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input).asInstanceOf[ArrayData]
    val b = right.eval(input).asInstanceOf[ArrayData]
    if (isLong) HashKernels.jaccardSimLong(a, b)
    else HashKernels.jaccardSim(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val boxed = ctx.freshName("jacBoxed")
    val kernel = if (isLong) "jaccardSimLong" else "jaccardSim"
    ev.copy(code = a.code + b.code + code"""
      final java.lang.Double $boxed = graft.functions.HashKernels.$kernel(
        ${a.isNull} ? null : ${a.value}, ${b.isNull} ? null : ${b.value});
      final boolean ${ev.isNull} = ($boxed == null);
      final double ${ev.value} = ${ev.isNull} ? 0.0d : $boxed.doubleValue();""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}

/** string text → array<long> winnowed fingerprints, each packing
  * `(hash32 << 32) | codepointPos` ([[HashKernels.winnow]]): the
  * candidate generator for exact-substring duplicate-span detection
  * (Dedup.duplicateSpans). One loop per row with real codegen — the
  * rolling hash + sliding-min never leaves the stage. */
case class WinnowedFingerprints(child: Expression, k: Int, window: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.winnow(input.asInstanceOf[UTF8String], k, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.winnow($c, $k, $window)")

  override protected def withNewChildInternal(newChild: Expression): WinnowedFingerprints =
    copy(child = newChild)
}

/** struct(textA, textB, d int, positions array<int>) → array<long> of
  * packed `(startA << 32) | spanLen` exact duplicated spans
  * ([[HashKernels.chainSpans]]): the verify+chain stage of
  * Dedup.duplicateSpans as ONE loop per pair-alignment row — texts
  * cross the shuffle once per pair, not once per anchor. */
case class ChainSpans(child: Expression, k: Int, window: Int, minLen: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_chain_spans"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.chainSpans(
      input.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow],
      k, window, minLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.chainSpans($c, $k, $window, $minLen)")

  override protected def withNewChildInternal(newChild: Expression): ChainSpans =
    copy(child = newChild)
}

/** (text, array<struct<start int, len int>>) → text with the codepoint
  * ranges excised ([[HashKernels.excise]]): the removal half of
  * exact-substring span dedup (Dedup.cutSpans). */
case class ExciseSpans(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_excise"

  override protected def nullSafeEval(text: Any, cuts: Any): Any =
    HashKernels.excise(text.asInstanceOf[UTF8String],
      cuts.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, c) => s"graft.functions.HashKernels.excise($t, $c)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExciseSpans =
    copy(left = newLeft, right = newRight)
}

/** array<string> symbols × (l, r) string literals → the array with every
  * adjacent (l, r) pair greedily merged left-to-right into l+r — ONE BPE
  * merge round ([[HashKernels.bpeApply]]), the kernel twin of the
  * higher-order fold it replaces in [[graft.ops.Bpe.applyMerge]]. The
  * fold re-allocated the accumulator array per element (O(len²) copies
  * per word per round) and paid an interpreted lambda dispatch per
  * symbol; this is one loop with one output buffer, still inside
  * whole-stage codegen. */
case class BpeApplyMerge(child: Expression, l: UTF8String, r: UTF8String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_bpe_apply"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.bpeApply(input.asInstanceOf[ArrayData], l, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeL", l,
      classOf[UTF8String].getName)
    val rRef = ctx.addReferenceObj("bpeR", r,
      classOf[UTF8String].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.bpeApply($c, $lRef, $rRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplyMerge =
    copy(child = newChild)
}

/** array<string> symbols → array<struct<l, r>> adjacent bigrams
  * ([[HashKernels.bpePairs]]): the pair-extraction half of a BPE
  * training round, one loop instead of an interpreted
  * `transform(sequence…)` with two `element_at` probes per pair. */
case class BpePairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("l", StringType), StructField("r", StringType))),
    containsNull = false)
  override def prettyName: String = "graft_bpe_pairs"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.bpePairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.bpePairs($c)")

  override protected def withNewChildInternal(newChild: Expression): BpePairs =
    copy(child = newChild)
}

/** Session registration for the custom expressions, so plans can call them
  * via `call_function("graft_minhash", shingles, lit(k))`. Idempotent. */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry

    registry.registerFunction(
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(child, Literal(k: Int, IntegerType)) => MinHashSignature(child, k)
        case _ => throw new IllegalArgumentException(
          "usage: graft_minhash(array<string>, <int literal>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_word_shingles"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(child, Literal(n: Int, IntegerType)) => WordShingles(child, n)
        case _ => throw new IllegalArgumentException(
          "usage: graft_word_shingles(array<string>, <int literal>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(child, Literal(n: Int, IntegerType)) => ShingleHashes(child, n)
        case _ => throw new IllegalArgumentException(
          "usage: graft_shingle_hashes(array<string>, <int literal>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_minhash_hashes"),
      new ExpressionInfo(classOf[MinHashFromHashes].getName, "graft_minhash_hashes"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(child, Literal(k: Int, IntegerType)) => MinHashFromHashes(child, k)
        case _ => throw new IllegalArgumentException(
          "usage: graft_minhash_hashes(array<long>, <int literal>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_chain_spans"),
      new ExpressionInfo(classOf[ChainSpans].getName, "graft_chain_spans"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(st, Literal(k: Int, IntegerType),
                 Literal(w: Int, IntegerType),
                 Literal(ml: Int, IntegerType)) => ChainSpans(st, k, w, ml)
        case _ => throw new IllegalArgumentException(
          "usage: graft_chain_spans(struct(ta,tb,d,positions), k, w, minLen)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_excise"),
      new ExpressionInfo(classOf[ExciseSpans].getName, "graft_excise"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(text, cuts) => ExciseSpans(text, cuts)
        case _ => throw new IllegalArgumentException(
          "usage: graft_excise(string, array<struct<start:int,len:int>>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowedFingerprints].getName, "graft_winnow"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(child, Literal(k: Int, IntegerType),
                 Literal(w: Int, IntegerType)) =>
          WinnowedFingerprints(child, k, w)
        case _ => throw new IllegalArgumentException(
          "usage: graft_winnow(string, <k literal>, <window literal>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucketId].getName, "graft_lsh_bucket"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(vec, pl @ Literal(_, ArrayType(ArrayType(DoubleType, _), _))) =>
          val planes = pl.value.asInstanceOf[ArrayData]
            .toObjectArray(ArrayType(DoubleType))
            .map(_.asInstanceOf[ArrayData].toDoubleArray())
          LshBucketId(vec, planes)
        case _ => throw new IllegalArgumentException(
          "usage: graft_lsh_bucket(array<double>, <array<array<double>> literal>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_nearest_cell"),
      new ExpressionInfo(classOf[NearestCell].getName, "graft_nearest_cell"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(vec, cl @ Literal(_, ArrayType(ArrayType(DoubleType, _), _))) =>
          val cents = cl.value.asInstanceOf[ArrayData]
            .toObjectArray(ArrayType(DoubleType))
            .map(_.asInstanceOf[ArrayData].toDoubleArray())
          NearestCell(vec, cents)
        case _ => throw new IllegalArgumentException(
          "usage: graft_nearest_cell(array<double>, <array<array<double>> literal>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosinePair].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, b) => CosinePair(a, b)
        case _ => throw new IllegalArgumentException(
          "usage: graft_cosine(array<double>, array<double>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_bpe_apply"),
      new ExpressionInfo(classOf[BpeApplyMerge].getName, "graft_bpe_apply"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(child, Literal(l: UTF8String, StringType),
                 Literal(r: UTF8String, StringType)) =>
          BpeApplyMerge(child, l, r)
        case _ => throw new IllegalArgumentException(
          "usage: graft_bpe_apply(array<string>, <string literal l>, " +
            "<string literal r>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_pq_codes"),
      new ExpressionInfo(classOf[PqCodes].getName, "graft_pq_codes"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(vec,
            cl @ Literal(_, ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)),
            Literal(sd: Int, IntegerType)) =>
          val cents = cl.value.asInstanceOf[ArrayData]
            .toObjectArray(ArrayType(ArrayType(DoubleType)))
            .map(_.asInstanceOf[ArrayData]
              .toObjectArray(ArrayType(DoubleType))
              .map(_.asInstanceOf[ArrayData].toDoubleArray()))
          PqCodes(vec, cents, sd)
        case _ => throw new IllegalArgumentException(
          "usage: graft_pq_codes(array<double>, " +
            "<array<array<array<double>>> literal>, <int literal subDim>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_jaccard"),
      new ExpressionInfo(classOf[JaccardSim].getName, "graft_jaccard"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, b) => JaccardSim(a, b)
        case _ => throw new IllegalArgumentException(
          "usage: graft_jaccard(array<string>, array<string>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_bpe_pairs"),
      new ExpressionInfo(classOf[BpePairs].getName, "graft_bpe_pairs"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(child) => BpePairs(child)
        case _ => throw new IllegalArgumentException(
          "usage: graft_bpe_pairs(array<string>)")
      })

    registry.registerFunction(
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(child) => SimHash64(child)
        case _ => throw new IllegalArgumentException(
          "usage: graft_simhash(array<string>)")
      })
  }
}
