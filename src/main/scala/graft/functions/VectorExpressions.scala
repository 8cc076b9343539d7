package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, ImplicitCastInputTypes, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions for the vector math on the similarity
  * path (SURVEY.md §2.10): a codegen'd dot product and L2 norm over
  * `array<double>` columns.
  *
  * WHY custom expressions: the built-in formulation —
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,x) -> acc+x)` — is
  * semantically fine but higher-order functions are CodegenFallback:
  * every element goes through an interpreted lambda call and an
  * intermediate product array is materialized per row. The brute-force
  * scorer evaluates |queries| × |corpus| dot products, so the inner loop
  * is the hottest code in the engine. `doGenCode` emits a tight
  * primitive `double` loop directly over the ArrayData buffers — no
  * lambda dispatch, no allocation — inside whole-stage codegen.
  *
  * Summation order is left-to-right, IDENTICAL to the sequential HOF
  * fold it replaces, so results are bit-for-bit unchanged.
  *
  * Contract: element nulls are not supported (embedding vectors are
  * dense); mismatched lengths score over the common prefix.
  *
  * Registered as SQL functions `vec_dot` / `vec_norm` either via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (config-time)
  * or [[GraftFunctions.register]] (runtime).
  */
case class VectorDot(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** L2 norm — sqrt of the self dot product, same codegen shape. */
case class VectorNorm(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $v = $a.getDouble($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VectorNorm =
    copy(child = newChild)
}

/** All sign-LSH bucket ids of a vector in ONE pass: table t's bucket is
  * the `planes` sign bits of the hyperplane projections packed into an
  * int; the result is the array of `tables` bucket ids.
  *
  * WHY one expression: composing this from per-plane vec_dot calls puts
  * tables×planes (hundreds) of dot-product nodes — each with its own
  * generated loop — into a single projection, and codegen compile time
  * dominates the query. Here the whole hyperplane family is ONE flat
  * literal array scanned by one nested loop: tiny generated method,
  * evaluated once per row.
  *
  * Children: (vec array<double>, planesFlat array<double> laid out
  * [table][plane][dim], planes int, dim int) — tables is derived as
  * planesFlat.length / (planes·dim). Projections over a shorter vector
  * score the common prefix, matching [[VectorDot]]. */
case class SignLshBuckets(
    first: Expression, second: Expression, third: Expression, fourth: Expression)
  extends QuaternaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType),
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "sign_lsh"

  override def nullSafeEval(v: Any, m: Any, p: Any, d: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val mat = m.asInstanceOf[ArrayData]
    val planes = p.asInstanceOf[Int]
    val dim = d.asInstanceOf[Int]
    val tables = mat.numElements() / (planes * dim)
    val n = math.min(dim, vec.numElements())
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0
      var pl = 0
      while (pl < planes) {
        val base = (t * planes + pl) * dim
        var s = 0.0
        var i = 0
        while (i < n) { s += mat.getDouble(base + i) * vec.getDouble(i); i += 1 }
        if (s >= 0) bucket |= (1 << pl)
        pl += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m, p, d) => {
      val t = ctx.freshName("t")
      val pl = ctx.freshName("pl")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val base = ctx.freshName("base")
      val bucket = ctx.freshName("bucket")
      val tables = ctx.freshName("tables")
      val out = ctx.freshName("out")
      s"""
         |final int $tables = $m.numElements() / ($p * $d);
         |final int $n = java.lang.Math.min($d, $v.numElements());
         |final int[] $out = new int[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  int $bucket = 0;
         |  for (int $pl = 0; $pl < $p; $pl++) {
         |    final int $base = ($t * $p + $pl) * $d;
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $s += $m.getDouble($base + $i) * $v.getDouble($i);
         |    }
         |    if ($s >= 0) $bucket |= (1 << $pl);
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): SignLshBuckets =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** Distinct word n-grams of a text column in ONE compiled pass — the
  * native replacement for the `zip_with`-over-`slice`s + `array_distinct`
  * higher-order-function chain, which executes interpreted
  * (CodegenFallback) with per-element lambda dispatch on the hottest
  * text path in the engine (MinHash shingling feeds dedup and the prep
  * pipeline).
  *
  * Semantics are IDENTICAL to `array_distinct(zip_with-built n-grams of
  * split(text, " "))`: tokens split on every single space keeping empty
  * strings (Java split with limit -1, matching Spark's `split`), n-grams
  * joined with one space, distinct keeping first occurrence, fewer than
  * n tokens → empty array. The heavy lifting lives in a static helper
  * the generated code calls, so the expression participates in
  * whole-stage codegen without inlining string logic. */
case class WordNgrams(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(text: Any, n: Any): Any =
    WordNgrams.compute(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) =>
      s"${ev.value} = graft.functions.WordNgrams.compute($t, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordNgrams =
    copy(left = newLeft, right = newRight)
}

/** ALL word n-grams of a text column IN TOKEN ORDER, duplicates kept —
  * the positional sibling of [[WordNgrams]]: element i is exactly the
  * window starting at token i, so `posexplode` recovers the token
  * position of every window. That position is what the span-dedup
  * operator needs (coverage = union of [pos, pos+n) over duplicated
  * windows); the distinct variant cannot provide it because dedup
  * discards both order and multiplicity.
  *
  * Same tokenization contract as [[WordNgrams]]: split on every single
  * space keeping empties, windows joined with one space, fewer than n
  * tokens → empty array. */
case class WordNgramsAll(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_ngrams_all"

  override def nullSafeEval(text: Any, n: Any): Any =
    WordNgramsAll.compute(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) =>
      s"${ev.value} = graft.functions.WordNgramsAll.compute($t, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordNgramsAll =
    copy(left = newLeft, right = newRight)
}

/** ALIGNED non-overlapping `n`-token chunks of a text column, in order,
  * INCLUDING the partial tail — the paragraph unit for CCNet-style
  * chunk-level dedup when the corpus has no natural line breaks.
  * Element i is exactly tokens [i·n, min((i+1)·n, len)), joined with one
  * space, so `array_join(word_chunks(text, n), ' ') == text` for every
  * input (same tokenization contract as [[WordNgrams]]: split on every
  * single space keeping empties). Unlike the sliding windows this is a
  * PARTITION of the tokens: "" → one chunk [""], never an empty array,
  * so reassembly round-trips empties too. */
case class WordChunks(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_chunks"

  override def nullSafeEval(text: Any, n: Any): Any =
    WordChunks.compute(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) =>
      s"${ev.value} = graft.functions.WordChunks.compute($t, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordChunks =
    copy(left = newLeft, right = newRight)
}

object WordChunks {
  import org.apache.spark.unsafe.types.UTF8String

  def compute(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (n < 1)
      throw new IllegalArgumentException(s"word chunk width $n must be at least 1")
    val tokens = text.toString.split(" ", -1)
    // ceil(len/n) and the chunk end bound in overflow-safe forms
    // (len >= 1 always): len + n - 1 and (i+1)*n both wrap negative
    // for n near Int.MaxValue
    val m = (tokens.length - 1) / n + 1
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < m) {
      sb.setLength(0)
      val end = math.min(i.toLong * n + n, tokens.length.toLong).toInt
      var k = i * n
      while (k < end) {
        if (k > i * n) sb.append(' ')
        sb.append(tokens(k))
        k += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** The ONE copy of the tokenize-and-build-windows contract both n-gram
  * expressions share: split on every single space keeping empties (Java
  * split with limit -1, matching Spark's `split`), windows of `n`
  * tokens joined with one space, in token order with duplicates. Fewer
  * than n tokens → empty; n < 1 → error (n = 0 would fabricate
  * token-count+1 empty windows). */
private[functions] object NgramWindows {
  def build(text: org.apache.spark.unsafe.types.UTF8String, n: Int): Array[String] = {
    if (n < 1)
      throw new IllegalArgumentException(s"word n-gram width $n must be at least 1")
    val tokens = text.toString.split(" ", -1)
    val m = tokens.length - (n - 1)
    if (m <= 0) return Array.empty[String]
    val out = new Array[String](m)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(tokens(i + k))
        k += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }
}

object WordNgramsAll {
  import org.apache.spark.unsafe.types.UTF8String

  def compute(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val wins = NgramWindows.build(text, n)
    val out = new Array[Any](wins.length)
    var i = 0
    while (i < wins.length) { out(i) = UTF8String.fromString(wins(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object WordNgrams {
  import org.apache.spark.unsafe.types.UTF8String

  def compute(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val wins = NgramWindows.build(text, n)
    if (wins.isEmpty)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < wins.length) { seen.add(wins(i)); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** A text's MinHash signature in ONE compiled pass — the engine's one
  * MinHash kernel ([[MinhashKernel.sign]]), evaluated per row, so a
  * signature is a projection with no shuffle. The result struct holds
  * the text's distinct word 3-gram hashes (`xxhash64` of each distinct
  * [[WordNgrams]] shingle) ascending with their multiplicities (> 1
  * only for a 64-bit collision of two distinct shingles), their total
  * `sz`, and the 16 LSH band keys. A text with no shingle (fewer than
  * 3 tokens) has `sz` 0 and no band key; a NULL text has a NULL
  * signature. */
case class MinhashSign(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {

  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = MinhashKernel.SignatureType
  override def prettyName: String = "minhash_sign"

  override def nullSafeEval(text: Any): Any =
    MinhashKernel.sign(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = graft.functions.MinhashKernel.sign($t);")

  override protected def withNewChildInternal(newChild: Expression): MinhashSign =
    copy(child = newChild)
}

/** |A ∩ B| of two signed shingle multisets (hashes, multiplicities):
  * Σ cntA·cntB over the shared hashes ([[MinhashKernel.meet]]), the
  * exact intersection a MinHash candidate pair is verified by. */
case class MinhashMeet(
    first: Expression, second: Expression, third: Expression, fourth: Expression)
  extends QuaternaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {
  import org.apache.spark.sql.types.{IntegerType, LongType}

  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(IntegerType), ArrayType(LongType), ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def prettyName: String = "minhash_meet"

  override def nullSafeEval(ha: Any, ca: Any, hb: Any, cb: Any): Any =
    MinhashKernel.meet(ha.asInstanceOf[ArrayData].toLongArray(),
      ca.asInstanceOf[ArrayData].toIntArray(), hb.asInstanceOf[ArrayData].toLongArray(),
      cb.asInstanceOf[ArrayData].toIntArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ha, ca, hb, cb) =>
      s"${ev.value} = graft.functions.MinhashKernel.meet($ha.toLongArray(), " +
        s"$ca.toIntArray(), $hb.toLongArray(), $cb.toIntArray());")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): MinhashMeet =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** The MinHash kernel: every MinHash quantity of a document comes from
  * its own text, here, once — for the [[MinhashSign]] projection and the
  * driver-side verify and probe, which read its output rows and
  * intersect with [[meet]]. The hash chain is Spark's `xxhash64` from
  * seed 42: shingle h = xxhash64(shingle), slot k = min over the
  * distinct h of xxhash64(h, k), band j = xxhash64(slots 4j..4j+3). */
object MinhashKernel {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray
  import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
  import org.apache.spark.unsafe.types.UTF8String

  val Shingle = 3
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands
  private val Seed = 42L

  val SignatureType: StructType = StructType(Seq(
    StructField("hs", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("cnt", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("sz", LongType, nullable = false),
    StructField("bands", ArrayType(LongType, containsNull = false), nullable = false)))

  def sign(text: UTF8String): InternalRow = {
    val seen = new java.util.HashSet[String]()
    val raw = NgramWindows.build(text, Shingle).iterator.filter(seen.add).map { g =>
      val b = g.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        b.length, Seed)
    }.toArray
    java.util.Arrays.sort(raw)
    val hs = raw.distinct
    val cnt = new Array[Int](hs.length)
    var k = 0
    raw.foreach { h => if (h != hs(k)) k += 1; cnt(k) += 1 }
    new GenericInternalRow(Array[Any](fromPrimitiveArray(hs), fromPrimitiveArray(cnt),
      raw.length.toLong, fromPrimitiveArray(bandKeys(hs))))
  }

  /** The 16 band keys of a non-empty hash set; none of an empty one. */
  private def bandKeys(hs: Array[Long]): Array[Long] =
    if (hs.isEmpty) Array.empty
    else {
      val m = Array.fill(NumHashes)(Long.MaxValue)
      hs.foreach { h =>
        val base = XXH64.hashLong(h, Seed)
        var k = 0
        while (k < NumHashes) {
          val v = XXH64.hashInt(k, base)
          if (v < m(k)) m(k) = v
          k += 1
        }
      }
      Array.tabulate(Bands) { j =>
        (0 until RowsPerBand).foldLeft(Seed)((s, r) =>
          XXH64.hashLong(m(j * RowsPerBand + r), s))
      }
    }

  /** Σ cntA·cntB over the hashes two ascending multisets share. */
  def meet(ha: Array[Long], ca: Array[Int], hb: Array[Long], cb: Array[Int]): Long = {
    var i = 0
    var j = 0
    var m = 0L
    while (i < ha.length && j < hb.length) {
      if (ha(i) < hb(j)) i += 1
      else if (ha(i) > hb(j)) j += 1
      else { m += ca(i).toLong * cb(j); i += 1; j += 1 }
    }
    m
  }
}

/** Total BPE piece count of a text under a trained merge table — the
  * APPLY side of [[graft.ext.BpeTrain]]: split on single spaces, drop
  * empty words (the trainer's `length > 0` filter), start each word
  * from its single-character symbols (`split(word, "")` semantics —
  * no trailing empty), then apply every merge IN RANK ORDER with the
  * trainer's leftmost-non-overlapping rewrite (a merged symbol is
  * never the LEFT side of another merge in the same rank — the
  * "pending" fold semantics of `BpeTrain.applyMerge`, aaaa→[aa,aa]).
  * Equality with a composition of `applyMerge` folds is pinned by
  * spec; a native expression because the fold chain is interpreted
  * (CodegenFallback) per merge per row, while encoding runs over the
  * FULL corpus — not the vocab-bounded training set.
  *
  * The merge table arrives as two PARALLEL array literals (lefts,
  * rights) in rank order — two `typedLit`s are two Literal nodes
  * regardless of merge count (the SignLshBuckets lesson), and parallel
  * arrays need no separator convention that corpus symbols could
  * collide with. */
case class BpePieces(first: Expression, second: Expression, third: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
  with ImplicitCastInputTypes with ExpectsInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.StringType,
      ArrayType(org.apache.spark.sql.types.StringType),
      ArrayType(org.apache.spark.sql.types.StringType))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "bpe_pieces"

  override def nullSafeEval(text: Any, lefts: Any, rights: Any): Any =
    BpePieces.compute(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      lefts.asInstanceOf[ArrayData],
      rights.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, l, r) =>
      s"${ev.value} = graft.functions.BpePieces.compute($t, $l, $r);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BpePieces =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BpePieces {
  import org.apache.spark.unsafe.types.UTF8String

  /** Leftmost non-overlapping single-rank rewrite, identical to the
    * `applyMerge` fold: after emitting a merge the result is "pending"
    * (skip 2), so it can never left-merge again within the rank. */
  private def applyMergeLocal(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** The merge arrays are literals — the SAME ArrayData objects on
    * every row of a task — so the decoded (lefts, rights) table is
    * memoized by REFERENCE identity: O(1) per row instead of
    * re-decoding O(merges) UTF8Strings per document. Identity misses
    * (defensively-copied inputs) just decode again, so the cache is an
    * optimization, never a correctness dependency; the bound guards
    * against such pathological callers. */
  private final class TableKey(val l: ArrayData, val r: ArrayData) {
    override def hashCode: Int =
      System.identityHashCode(l) * 31 + System.identityHashCode(r)
    override def equals(o: Any): Boolean = o match {
      case k: TableKey => (k.l eq l) && (k.r eq r)
      case _ => false
    }
  }
  private val decoded =
    new java.util.concurrent.ConcurrentHashMap[TableKey, (Array[String], Array[String])]()

  private def decode(lefts: ArrayData, rights: ArrayData): (Array[String], Array[String]) = {
    if (lefts.numElements() != rights.numElements())
      throw new IllegalArgumentException(
        s"bpe_pieces: lefts (${lefts.numElements()}) and rights " +
          s"(${rights.numElements()}) merge arrays must have equal length")
    val n = lefts.numElements()
    val l = new Array[String](n)
    val r = new Array[String](n)
    var m = 0
    while (m < n) {
      if (lefts.isNullAt(m) || rights.isNullAt(m))
        throw new IllegalArgumentException(
          s"bpe_pieces: merge arrays must not contain NULL (rank ${m + 1})")
      l(m) = lefts.getUTF8String(m).toString
      r(m) = rights.getUTF8String(m).toString
      m += 1
    }
    (l, r)
  }

  def compute(text: UTF8String, lefts: ArrayData, rights: ArrayData): Int = {
    val key = new TableKey(lefts, rights)
    var table = decoded.get(key)
    if (table == null) {
      table = decode(lefts, rights)
      if (decoded.size > 64) decoded.clear()
      decoded.put(key, table)
    }
    val (ls, rs) = table
    var total = 0
    val words = text.toString.split(" ", -1)
    var w = 0
    while (w < words.length) {
      if (words(w).nonEmpty) {
        var syms: Array[String] = words(w).split("")
        var k = 0
        while (k < ls.length) {
          syms = applyMergeLocal(syms, ls(k), rs(k))
          k += 1
        }
        total += syms.length
      }
      w += 1
    }
    total
  }
}

/** Predicted language of a text in ONE pass: the argmax over
  * per-language marker-stopword hit counts, ties to the LOWEST language
  * index (list order = alphabetical, mirroring the fold/CASE the DuckDB
  * oracle generates), `"und"` when nothing hits.
  *
  * WHY one expression: the composed form is N per-language
  * `size(filter(toks, isin(markers)))` higher-order nodes — interpreted
  * (CodegenFallback), each walking every token — and at 20 languages
  * that multiplied x7's bench cost by ~7. Here one token walk consults
  * one hash map whose values are LANGUAGE BITMASKS (markers may belong
  * to several languages: "la" is Spanish and French), so cost is
  * O(tokens), independent of language count (≤ 64 languages by the
  * Long mask — a require guards it).
  *
  * Children: (text string, langs array<string>, markers array<string>,
  * markerLang array<int> parallel to markers). The literal arrays are
  * decoded once per task by reference identity (the BpePieces
  * memoization), never per row. */
case class LangBest(
    first: Expression, second: Expression, third: Expression, fourth: Expression)
  extends QuaternaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {

  override def inputTypes =
    Seq(org.apache.spark.sql.types.StringType,
      ArrayType(org.apache.spark.sql.types.StringType),
      ArrayType(org.apache.spark.sql.types.StringType),
      ArrayType(org.apache.spark.sql.types.IntegerType))
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "lang_best"

  override def nullSafeEval(t: Any, l: Any, m: Any, g: Any): Any =
    LangBest.compute(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      l.asInstanceOf[ArrayData], m.asInstanceOf[ArrayData], g.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, l, m, g) =>
      s"${ev.value} = graft.functions.LangBest.compute($t, $l, $m, $g);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): LangBest =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object LangBest {
  import org.apache.spark.unsafe.types.UTF8String

  private val Und = UTF8String.fromString("und")

  private final class Table(
      val langs: Array[UTF8String],
      val masks: java.util.HashMap[UTF8String, java.lang.Long])

  // same identity-keyed memoization as BpePieces: the three literal
  // arrays are the SAME ArrayData objects on every row of a task
  private final class Key(val l: ArrayData, val m: ArrayData, val g: ArrayData) {
    override def hashCode: Int =
      (System.identityHashCode(l) * 31 + System.identityHashCode(m)) * 31 +
        System.identityHashCode(g)
    override def equals(o: Any): Boolean = o match {
      case k: Key => (k.l eq l) && (k.m eq m) && (k.g eq g)
      case _ => false
    }
  }
  private val decoded = new java.util.concurrent.ConcurrentHashMap[Key, Table]()

  private def decode(langs: ArrayData, markers: ArrayData, markerLang: ArrayData): Table = {
    val nLangs = langs.numElements()
    require(nLangs >= 1 && nLangs <= 64,
      s"lang_best: $nLangs languages outside the Long-bitmask bound [1, 64]")
    require(markers.numElements() == markerLang.numElements(),
      s"lang_best: markers (${markers.numElements()}) and markerLang " +
        s"(${markerLang.numElements()}) must be parallel")
    val ls = new Array[UTF8String](nLangs)
    var i = 0
    while (i < nLangs) { ls(i) = langs.getUTF8String(i).clone(); i += 1 }
    val map = new java.util.HashMap[UTF8String, java.lang.Long]()
    var j = 0
    while (j < markers.numElements()) {
      val lang = markerLang.getInt(j)
      require(lang >= 0 && lang < nLangs,
        s"lang_best: markerLang[$j] = $lang outside [0, $nLangs)")
      val w = markers.getUTF8String(j).clone()
      val prev = map.get(w)
      map.put(w, java.lang.Long.valueOf(
        (if (prev == null) 0L else prev.longValue()) | (1L << lang)))
      j += 1
    }
    new Table(ls, map)
  }

  def compute(text: UTF8String, langs: ArrayData, markers: ArrayData,
      markerLang: ArrayData): UTF8String = {
    val key = new Key(langs, markers, markerLang)
    var table = decoded.get(key)
    if (table == null) {
      table = decode(langs, markers, markerLang)
      if (decoded.size > 64) decoded.clear()
      decoded.put(key, table)
    }
    val counts = new Array[Int](table.langs.length)
    // split on the single-space char, matching Spark's split(text, " ")
    // (empty tokens can never be markers, so limit semantics are moot)
    val toks = text.split(UTF8String.fromString(" "), -1)
    var i = 0
    while (i < toks.length) {
      val mask = table.masks.get(toks(i))
      if (mask != null) {
        var m = mask.longValue()
        while (m != 0L) {
          val b = java.lang.Long.numberOfTrailingZeros(m)
          counts(b) += 1
          m &= m - 1
        }
      }
      i += 1
    }
    var best = -1
    var bestScore = 0
    var l = 0
    while (l < counts.length) {
      // strict > keeps the earliest (list-order) language on ties
      if (counts(l) > bestScore) { best = l; bestScore = counts(l) }
      l += 1
    }
    if (best < 0) Und else table.langs(best)
  }
}

/** Runtime registration + Column API for the vector expressions. */
object GraftFunctions {

  private[functions] val fns: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vec_dot",
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (es: Seq[Expression]) => VectorDot(es(0), es(1))),
    ("vec_norm",
      new ExpressionInfo(classOf[VectorNorm].getName, "vec_norm"),
      (es: Seq[Expression]) => VectorNorm(es.head)),
    ("sign_lsh",
      new ExpressionInfo(classOf[SignLshBuckets].getName, "sign_lsh"),
      (es: Seq[Expression]) => SignLshBuckets(es(0), es(1), es(2), es(3))),
    ("word_ngrams",
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (es: Seq[Expression]) => WordNgrams(es(0), es(1))),
    ("word_ngrams_all",
      new ExpressionInfo(classOf[WordNgramsAll].getName, "word_ngrams_all"),
      (es: Seq[Expression]) => WordNgramsAll(es(0), es(1))),
    ("word_chunks",
      new ExpressionInfo(classOf[WordChunks].getName, "word_chunks"),
      (es: Seq[Expression]) => WordChunks(es(0), es(1))),
    ("minhash_sign",
      new ExpressionInfo(classOf[MinhashSign].getName, "minhash_sign"),
      (es: Seq[Expression]) => MinhashSign(es.head)),
    ("minhash_meet",
      new ExpressionInfo(classOf[MinhashMeet].getName, "minhash_meet"),
      (es: Seq[Expression]) => MinhashMeet(es(0), es(1), es(2), es(3))),
    ("bpe_pieces",
      new ExpressionInfo(classOf[BpePieces].getName, "bpe_pieces"),
      (es: Seq[Expression]) => BpePieces(es(0), es(1), es(2))),
    ("lang_best",
      new ExpressionInfo(classOf[LangBest].getName, "lang_best"),
      (es: Seq[Expression]) => LangBest(es(0), es(1), es(2), es(3))),
    ("mg_candidates",
      new ExpressionInfo(classOf[MisraGriesCandidates].getName, "mg_candidates"),
      (es: Seq[Expression]) => MisraGriesCandidates(es(0),
        es(1).eval().asInstanceOf[Number].intValue())))

  /** Idempotent per-session registration (for sessions built without the
    * extensions config). Skips a name ONLY when the existing
    * registration is graft's own expression class (injected by
    * [[GraftExtensions]] or a previous call) — so repeated operator
    * invocations don't log `SimpleFunctionRegistry: ... replaced ...`
    * warnings, while a foreign same-named function is still replaced
    * (with exactly one replace warning, which is the correct signal that
    * an override happened) instead of silently computing with someone
    * else's semantics. */
  def register(spark: SparkSession): Unit = fns.foreach { case (name, info, builder) =>
    val registry = spark.sessionState.functionRegistry
    val ours = registry.lookupFunction(FunctionIdentifier(name))
      .exists(_.getClassName == info.getClassName)
    // registerFunction (not createOrReplaceTempFunction) so the stored
    // ExpressionInfo carries OUR class name and the skip check above
    // recognizes a prior runtime registration
    if (!ours) registry.registerFunction(FunctionIdentifier(name), info, builder)
  }

  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def vecNorm(a: Column): Column = call_function("vec_norm", a)
  def signLsh(vec: Column, planesFlat: Column, planes: Column, dim: Column): Column =
    call_function("sign_lsh", vec, planesFlat, planes, dim)
  def wordNgrams(text: Column, n: Column): Column =
    call_function("word_ngrams", text, n)
  def wordNgramsAll(text: Column, n: Column): Column =
    call_function("word_ngrams_all", text, n)
  def wordChunks(text: Column, n: Column): Column =
    call_function("word_chunks", text, n)
  def minhashSign(text: Column): Column = call_function("minhash_sign", text)
  def minhashMeet(hsA: Column, cntA: Column, hsB: Column, cntB: Column): Column =
    call_function("minhash_meet", hsA, cntA, hsB, cntB)
  def bpePieces(text: Column, lefts: Column, rights: Column): Column =
    call_function("bpe_pieces", text, lefts, rights)
  def langBest(text: Column, langs: Column, markers: Column, markerLang: Column): Column =
    call_function("lang_best", text, langs, markers, markerLang)
}

/** Config-time injection: `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.fns.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}
