package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_dot(a, b)`: dot product of two float-array columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * The built-in spelling — `aggregate(zip_with(a, b, (x,y) -> x*y), 0d,
  * +)` — allocates an intermediate array and evaluates three interpreted
  * lambdas per element; this expression compiles to a primitive loop over
  * the two `ArrayData` buffers (each float widened to double before the
  * multiply, so results are bit-identical to the cast-then-multiply HOF
  * form and to DuckDB's `list_dot_product` on `DOUBLE[]`). This is the
  * similarity-search hot path: at 100 TB every candidate probe pays this
  * per row.
  *
  * Registered per-session via [[GraftFunctions.register]] or globally via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
@ExpressionDescription(
  usage = "graft_dot(a, b) - dot product of two ARRAY<FLOAT> columns as DOUBLE.")
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  // ragged arrays yield NULL, not a truncated partial dot: the HOF
  // spelling this expression documents equivalence with null-pads via
  // zip_with and the null propagates through the sum — a malformed
  // short embedding must fall into the same NULL (→ when() otherwise-
  // branch) path in both spellings, never into a different bucket
  override def nullable: Boolean = true

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two ARRAY<FLOAT> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += xs.getFloat(i).toDouble * ys.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** `graft_l2q(a, b)`: Σ(aᵢ−bᵢ)² of two BIGINT-array columns as BIGINT —
  * the integer squared distance of the md5-twin ANN/SemDeDup family
  * ([[graft.ops.Ivf]]), whose 2^20-quantized coordinates make every
  * distance exact in any engine.
  *
  * The built-in spelling — `aggregate(zip_with(a, b, (x,y) ->
  * (x-y)*(x-y)), 0L, +)` — is an interpreted higher-order function:
  * measured ~14 µs per 64-element evaluation in the cell-assignment hot
  * path (29M evaluations at the 1M-vector stress point = the dominant
  * cost of the whole operator). This expression compiles into the
  * whole-stage-codegen loop and runs the identical long arithmetic, so
  * results (and the DuckDB oracle, which mirrors the MATH, not the
  * evaluator) are unchanged.
  */
@ExpressionDescription(
  usage = "graft_l2q(a, b) - sum of squared differences of two ARRAY<BIGINT> columns as BIGINT.")
case class L2SquaredLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  // ragged → NULL, same contract as graft_dot (see there); the IVF
  // callers additionally raise on width mismatch before this runs
  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_l2q expects two ARRAY<BIGINT> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = xs.getLong(i) - ys.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SquaredLong =
    copy(left = newLeft, right = newRight)
}

/** `graft_ldot(a, b)`: BIGINT dot product of two ARRAY<BIGINT> columns —
  * the integer-dot companion to [[DotProductFloat]] for the md5-twin
  * plane family ([[graft.ops.Similarity]]), whose 2^20-quantized
  * coordinates and integer plane components make every sign decision
  * exact in any engine.
  *
  * The built-in spelling — `aggregate(zip_with(qe, comps, (x,y) -> x*y),
  * 0L, +)` — evaluates three interpreted lambdas and allocates an
  * intermediate array per (row, plane); the banded twin pays it
  * nTables×planesPerTable = 24 times per row. This compiles to a
  * primitive loop over the two `ArrayData` buffers with the identical
  * long arithmetic, so buckets (and the DuckDB oracle, which mirrors
  * the MATH) are unchanged.
  */
@ExpressionDescription(
  usage = "graft_ldot(a, b) - dot product of two ARRAY<BIGINT> columns as BIGINT.")
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  // ragged → NULL, same contract as graft_dot (see there): in
  // md5BucketAt parity terms a malformed short embedding falls into the
  // NULL → otherwise-0 bucket bit in BOTH spellings, never a partial dot
  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_ldot expects two ARRAY<BIGINT> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += xs.getLong(i) * ys.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** `graft_md5pre(prefix, s)`: the RAW 16-byte md5 digest of the UTF-8
  * concatenation `prefix ++ s`, as BINARY — semantically identical to
  * `unhex(md5(concat(prefix, s)))`, physically one digest over the two
  * byte runs with a REUSED MessageDigest (codegen mutable state).
  *
  * This is the MinHash-md5-twin hot path: k=8 salted digests per shingle
  * row. The built-in spelling allocates, per (row, salt): the concat'd
  * UTF8String, a fresh MessageDigest (commons-codec `md5Hex`), the
  * 32-char hex string, and (for a binary min) the unhex buffer. Binary
  * compares unsigned-lexicographically, exactly like the hex string, so
  * `min` over these digests picks the same winner and `lower(hex(...))`
  * of the result reproduces the oracle's string bit-for-bit.
  */
@ExpressionDescription(
  usage = "graft_md5pre(prefix, s) - 16-byte md5 digest of prefix||s as BINARY.")
case class Md5Prefix(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == StringType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_md5pre expects two STRING arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  @transient private lazy val mdEval =
    java.security.MessageDigest.getInstance("MD5")

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    mdEval.reset()
    mdEval.update(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    mdEval.update(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    mdEval.digest()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState("java.security.MessageDigest", "graftMd5",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }""".stripMargin)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |$md.reset();
         |$md.update($a.getBytes());
         |$md.update($b.getBytes());
         |${ev.value} = $md.digest();
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Md5Prefix =
    copy(left = newLeft, right = newRight)
}

/** `graft_md5u32(s)`: the first 4 bytes of md5(s) as an unsigned
  * big-endian BIGINT — semantically identical to
  * `conv(substring(md5(s), 1, 8), 16, 10) :: BIGINT` (DuckDB:
  * `('0x' || substr(md5(s), 1, 8))::BIGINT`), physically one reused
  * digest and zero string allocation. The SimHash-md5-twin per-token
  * hash: the built-in spelling pays hex-encode (32 chars) + substring +
  * base-16 string parse per token row.
  */
@ExpressionDescription(
  usage = "graft_md5u32(s) - first 4 md5 bytes of a STRING as unsigned BIGINT.")
case class Md5Uint32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_md5u32 expects a STRING argument, got ${child.dataType.simpleString}")
  }

  @transient private lazy val mdEval =
    java.security.MessageDigest.getInstance("MD5")

  override protected def nullSafeEval(a: Any): Any = {
    mdEval.reset()
    val d = mdEval.digest(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState("java.security.MessageDigest", "graftMd5u",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }""".stripMargin)
    nullSafeCodeGen(ctx, ev, a => {
      val d = ctx.freshName("d")
      // NOTE: no generated line may BEGIN with '|': ExprCode blocks are
      // stripMargin'd AGAIN by the codegen Block formatter, which ate a
      // leading OR-continuation here and silently dropped every Md5Uint32
      // stage to interpreted fallback (janino: "... is not a type")
      s"""
         |$md.reset();
         |byte[] $d = $md.digest($a.getBytes());
         |${ev.value} = (($d[0] & 0xFFL) << 24) | (($d[1] & 0xFFL) << 16) |
         |  (($d[2] & 0xFFL) << 8) | ($d[3] & 0xFFL);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Uint32 =
    copy(child = newChild)
}

/** `graft_sdot(a, b)`: integer dot product of two SPARSE vectors held as
  * `ARRAY<STRUCT<t: STRING, w: BIGINT>>` arrays SORTED by `t` — one
  * sorted-merge walk, O(|a| + |b|) per evaluation, exact string keys
  * (no hash-collision caveat), whole-stage codegen.
  *
  * This is the verify hot path of the exact all-pairs cosine join
  * ([[graft.ops.Similarity.allPairsCosine]]): every candidate pair pays
  * one evaluation. The built-in spellings are both structurally worse —
  * a per-(doc, term) row join multiplies candidates by document length
  * before it can aggregate (measured 4×10⁹ shuffled rows on a 50k-doc
  * worst-case corpus), and `aggregate(array_intersect(...))` over maps
  * is an interpreted HOF with an O(|a|·|b|) lookup scan (measured ~2.7×
  * slower end-to-end on a 25-shared-term corpus). Caller contract: both
  * arrays sorted ascending by `t` with distinct keys —
  * `array_sort(collect_list(struct(t, w)))` produces exactly that.
  */
@ExpressionDescription(
  usage = "graft_sdot(a, b) - integer dot of two t-sorted ARRAY<STRUCT<t: STRING, w: BIGINT>> sparse vectors as BIGINT.")
case class SparseDotSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = LongType

  private def okType(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(f0, f1)), _) =>
      f0.dataType == StringType && f1.dataType == LongType
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (Seq(left, right).forall(e => okType(e.dataType)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_sdot expects two ARRAY<STRUCT<STRING, BIGINT>> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val na = xs.numElements()
    val nb = ys.numElements()
    var acc = 0L
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val ra = xs.getStruct(i, 2)
      val rb = ys.getStruct(j, 2)
      val c = ra.getUTF8String(0).compareTo(rb.getUTF8String(0))
      if (c == 0) { acc += ra.getLong(1) * rb.getLong(1); i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val acc = ctx.freshName("acc")
      val ra = ctx.freshName("ra")
      val rb = ctx.freshName("rb")
      val c = ctx.freshName("c")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |long $acc = 0L;
         |int $i = 0;
         |int $j = 0;
         |while ($i < $na && $j < $nb) {
         |  org.apache.spark.sql.catalyst.InternalRow $ra = $a.getStruct($i, 2);
         |  org.apache.spark.sql.catalyst.InternalRow $rb = $b.getStruct($j, 2);
         |  int $c = $ra.getUTF8String(0).compareTo($rb.getUTF8String(0));
         |  if ($c == 0) { $acc += $ra.getLong(1) * $rb.getLong(1); $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SparseDotSorted =
    copy(left = newLeft, right = newRight)
}

/** `graft_fddot(a, b)`: dot product of an ARRAY<FLOAT> column against an
  * ARRAY<DOUBLE> column (each float widened to double before the
  * multiply, in index order) — bit-identical to the interpreted
  * `aggregate(zip_with(transform(a, CAST AS DOUBLE), b, (x,y) -> x*y),
  * 0d, +)` spelling, compiled to a primitive loop.
  *
  * This is the float-plane hyperplane-LSH hot path
  * ([[graft.ops.Similarity.hyperplaneBucketAt]]): the plane family is a
  * DOUBLE constant array (the splitmix64-mix components are 1e-6-grained
  * — not float-representable, and a float round could flip a sign at
  * the bucket boundary), so [[DotProductFloat]] can't serve without
  * changing bucket assignment. Widening inside the codegen loop keeps
  * every historical bucket (and the driver-side `bucketOf` twin) exact
  * while removing the 3-lambda interpreted chain the banded miner paid
  * per (row, plane) — nTables×planesPerTable times per row.
  */
@ExpressionDescription(
  usage = "graft_fddot(a, b) - dot of ARRAY<FLOAT> a against ARRAY<DOUBLE> b as DOUBLE.")
case class DotProductFloatDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  // ragged → NULL, same contract as graft_dot (see there)
  override def nullable: Boolean = true

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_fddot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) => true
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_fddot expects (ARRAY<FLOAT>, ARRAY<DOUBLE>) arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += xs.getFloat(i).toDouble * ys.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ((double) $a.getFloat($i)) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloatDouble =
    copy(left = newLeft, right = newRight)
}

/** `graft_firstmatch(xs, ys, groupBits, nGroups)`: index of the FIRST
  * bit-group where two packed signatures agree, or -1.
  *
  * Both arguments are ARRAY<BIGINT> words packing `nGroups` groups of
  * `groupBits` bits each, floor(63/groupBits) groups per word (bit 63
  * never used, so shifts stay in non-negative territory); `groupBits`
  * and `nGroups` must be foldable INT literals — they are baked into the
  * generated loop as constants.
  *
  * This is the banded-LSH "first colliding table" verdict
  * ([[graft.ops.Similarity.embNearDupBanded]]): a near-dup pair collides
  * in ~all L tables on a cluster-heavy corpus, and emitting it only
  * where `graft_firstmatch(x.sig, y.sig) = tbl` holds cuts the ~L×
  * cross-table candidate multiplicity WITHOUT the `distinct()` shuffle
  * the old plan paid (bench/r15_md5_twins.json: the mass cut dominates
  * the 192.5→17.9 s twin rewrite). The md5 twin's 8-table × 3-bit CASE
  * chain unrolled this by hand; this expression is the same arithmetic
  * for any (groupBits, nGroups), evaluated per JOIN-OUTPUT row inside
  * whole-stage codegen. Returns NULL if either array has the wrong word
  * count (ragged contract, like graft_dot).
  */
@ExpressionDescription(
  usage = "graft_firstmatch(xs, ys, groupBits, nGroups) - first index where the packed bit-groups of two ARRAY<BIGINT> signatures agree, or -1.")
case class FirstMatchedGroup(left: Expression, right: Expression,
                             groupBits: Int, nGroups: Int)
    extends BinaryExpression {

  require(groupBits >= 1 && groupBits <= 63,
    s"graft_firstmatch: groupBits must be in [1,63], got $groupBits")
  require(nGroups >= 1, s"graft_firstmatch: nGroups must be >= 1, got $nGroups")

  private def groupsPerWord: Int = 63 / groupBits
  private def nWords: Int = (nGroups + groupsPerWord - 1) / groupsPerWord
  private def mask: Long = (1L << groupBits) - 1L

  override def nullIntolerant: Boolean = true

  override def nullable: Boolean = true

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_firstmatch"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_firstmatch expects two ARRAY<BIGINT> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != nWords || ys.numElements() != nWords) return null
    val gpw = groupsPerWord
    var w = 0
    while (w < nWords) {
      val d = xs.getLong(w) ^ ys.getLong(w)
      val gmax = math.min(gpw, nGroups - w * gpw)
      var j = 0
      while (j < gmax) {
        if (((d >>> (j * groupBits)) & mask) == 0L) return w * gpw + j
        j += 1
      }
      w += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val w = ctx.freshName("w")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val gmax = ctx.freshName("gmax")
      val res = ctx.freshName("res")
      s"""
         |if ($a.numElements() != $nWords || $b.numElements() != $nWords) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $res = -1;
         |  for (int $w = 0; $w < $nWords && $res < 0; $w++) {
         |    long $d = $a.getLong($w) ^ $b.getLong($w);
         |    int $gmax = java.lang.Math.min($groupsPerWord, $nGroups - $w * $groupsPerWord);
         |    for (int $j = 0; $j < $gmax; $j++) {
         |      if ((($d >>> ($j * $groupBits)) & ${mask}L) == 0L) {
         |        $res = $w * $groupsPerWord + $j;
         |        break;
         |      }
         |    }
         |  }
         |  ${ev.value} = $res;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstMatchedGroup =
    copy(left = newLeft, right = newRight)
}

/** `graft_packsig(emb, planes, planesPerTable, nTables)`: ALL L·r
  * hyperplane sign bits of one embedding, packed into the
  * ⌈L/⌊63/r⌋⌉-word ARRAY<BIGINT> signature layout [[FirstMatchedGroup]]
  * walks — ONE codegen'd double loop per row regardless of plane count.
  *
  * Why a single expression and not a column composition: the banded
  * miner's Auto sizing scales the plane count with the corpus (e.g.
  * 42 tables × 6 planes = 252 dots at the sf1-shape point), and the
  * per-plane spelling — 252 separate `when(graft_fddot(...) ≥ 0, bit)`
  * terms summed per word — generates code linear in L·r inside ONE
  * unsplittable expression tree: the r17 sf1 run measured janino's
  * "Code grows beyond 64 KB" on exactly that projection, and Spark
  * silently fell back to INTERPRETED execution for the hottest per-row
  * stage of `emb_neardup`. This expression generates a fixed ~30-line
  * nested loop with the plane matrix as ONE flat `double[]` reference
  * object, so the generated size is constant in L·r and the packing
  * stays inside whole-stage codegen at any sizing.
  *
  * Bit-identical to the composition it replaces: same in-order
  * float-widened-to-double accumulation per plane (the graft_fddot
  * loop), same `⌊63/r⌋` tables-per-word layout, and the same edge
  * contract — a ragged embedding (length ≠ dim) or a NULL embedding
  * yields the ALL-ZERO signature (the fddot-NULL → when-otherwise(0)
  * path), and the sign test is NaN-as-largest / -0.0 = 0.0 (Spark's
  * nan-safe `≥` on DOUBLE), spelled `!(acc < 0)`.
  *
  * `planes` / `planesPerTable` / `nTables` must be foldable literals
  * (the registry builder extracts them); the plane matrix rides the
  * plan ONCE as a reference object, not as expression nodes.
  */
@ExpressionDescription(
  usage = "graft_packsig(emb, planes, planesPerTable, nTables) - packed hyperplane sign-bit signature words of an ARRAY<FLOAT> embedding.")
case class PackedSignBits(child: Expression, planes: Seq[Seq[Double]],
                          planesPerTable: Int, nTables: Int)
    extends UnaryExpression {

  require(planesPerTable >= 1 && planesPerTable <= 63,
    s"graft_packsig: planesPerTable must be in [1,63], got $planesPerTable")
  require(nTables >= 1, s"graft_packsig: nTables must be >= 1, got $nTables")
  require(planes.length == nTables * planesPerTable,
    s"graft_packsig: need nTables*planesPerTable = ${nTables * planesPerTable} " +
      s"planes, got ${planes.length}")
  private val dim = planes.head.length
  require(dim >= 1 && planes.forall(_.length == dim),
    "graft_packsig: all planes must share one dimension >= 1")

  private def tpw: Int = 63 / planesPerTable
  private def nWords: Int = (nTables + tpw - 1) / tpw
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](planes.length * dim)
    var p = 0
    while (p < planes.length) {
      var i = 0
      while (i < dim) { a(p * dim + i) = planes(p)(i); i += 1 }
      p += 1
    }
    a
  }

  // always an array: null/ragged embeddings map to the all-zero
  // signature (see scaladoc), never to NULL
  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_packsig"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_packsig expects an ARRAY<FLOAT> embedding, got ${other.simpleString}")
    }

  override def eval(input: InternalRow): Any = {
    val words = new Array[Long](nWords)
    val v = child.eval(input)
    if (v != null) {
      val emb = v.asInstanceOf[ArrayData]
      if (emb.numElements() == dim) {
        val r = planesPerTable
        val nP = nTables * r
        var p = 0
        while (p < nP) {
          var acc = 0.0
          val base = p * dim
          var i = 0
          while (i < dim) { acc += emb.getFloat(i).toDouble * flat(base + i); i += 1 }
          if (!(acc < 0.0)) {
            val t = p / r
            val w = t / tpw
            words(w) |= 1L << ((t - w * tpw) * r + (p % r))
          }
          p += 1
        }
      }
    }
    new GenericArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val planesRef = ctx.addReferenceObj("packsigPlanes", flat, "double[]")
    val words = ctx.freshName("words")
    val p = ctx.freshName("p")
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    val base = ctx.freshName("base")
    val t = ctx.freshName("t")
    val w = ctx.freshName("w")
    val r = planesPerTable
    val javaCode =
      code"""
        ${childGen.code}
        long[] $words = new long[$nWords];
        if (!${childGen.isNull} && ${childGen.value}.numElements() == $dim) {
          for (int $p = 0; $p < ${nTables * r}; $p++) {
            double $acc = 0.0;
            int $base = $p * $dim;
            for (int $i = 0; $i < $dim; $i++) {
              $acc += ((double) ${childGen.value}.getFloat($i)) * $planesRef[$base + $i];
            }
            if (!($acc < 0.0)) {
              int $t = $p / $r;
              int $w = $t / $tpw;
              $words[$w] |= 1L << (($t - $w * $tpw) * $r + ($p % $r));
            }
          }
        }
        ArrayData ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData($words);
      """
    ev.copy(code = javaCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PackedSignBits =
    copy(child = newChild)
}

object GraftFunctions {

  private val dotInfo = new ExpressionInfo(
    classOf[DotProductFloat].getName, "graft_dot")

  private val dotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProductFloat(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_dot takes exactly 2 arguments, got ${other.length}")
  }

  private val l2qInfo = new ExpressionInfo(
    classOf[L2SquaredLong].getName, "graft_l2q")

  private val l2qBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => L2SquaredLong(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_l2q takes exactly 2 arguments, got ${other.length}")
  }

  private val ldotInfo = new ExpressionInfo(
    classOf[DotProductLong].getName, "graft_ldot")

  private val ldotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProductLong(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_ldot takes exactly 2 arguments, got ${other.length}")
  }

  private val fddotInfo = new ExpressionInfo(
    classOf[DotProductFloatDouble].getName, "graft_fddot")

  private val fddotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProductFloatDouble(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_fddot takes exactly 2 arguments, got ${other.length}")
  }

  private val firstmatchInfo = new ExpressionInfo(
    classOf[FirstMatchedGroup].getName, "graft_firstmatch")

  // groupBits / nGroups must be INT literals: they are baked into the
  // generated loop (constant word count, shift widths) at plan time
  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"graft_firstmatch: $what must be an INT literal, got $other")
  }

  // private[functions]: the GraftExtensions injection path reuses this
  // builder so both registration routes validate the groupBits/nGroups
  // literals identically (a BIGINT literal like 3L once raised an opaque
  // ClassCastException from the extensions path where the registry path
  // gave litInt's descriptive error)
  private val firstmatchBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, bits, n) =>
      FirstMatchedGroup(a, b, litInt(bits, "groupBits"), litInt(n, "nGroups"))
    case other => throw new IllegalArgumentException(
      s"graft_firstmatch takes exactly 4 arguments, got ${other.length}")
  }

  private val packsigInfo = new ExpressionInfo(
    classOf[PackedSignBits].getName, "graft_packsig")

  // the plane matrix must be a foldable nested-array DOUBLE literal: it
  // is extracted ONCE here and rides the expression as a flat reference
  // object (never as per-element expression nodes — see PackedSignBits)
  private def litPlanes(e: Expression): Seq[Seq[Double]] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: ArrayData,
        ArrayType(ArrayType(DoubleType, _), _)) =>
      (0 until v.numElements()).map(i => v.getArray(i).toDoubleArray().toSeq)
    case other => throw new IllegalArgumentException(
      s"graft_packsig: planes must be an ARRAY<ARRAY<DOUBLE>> literal, got $other")
  }

  private val packsigBuilder: Seq[Expression] => Expression = {
    case Seq(emb, pl, bits, n) =>
      PackedSignBits(emb, litPlanes(pl),
        litInt(bits, "planesPerTable"), litInt(n, "nTables"))
    case other => throw new IllegalArgumentException(
      s"graft_packsig takes exactly 4 arguments, got ${other.length}")
  }

  private val md5preInfo = new ExpressionInfo(
    classOf[Md5Prefix].getName, "graft_md5pre")

  private val md5preBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => Md5Prefix(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_md5pre takes exactly 2 arguments, got ${other.length}")
  }

  private val md5u32Info = new ExpressionInfo(
    classOf[Md5Uint32].getName, "graft_md5u32")

  private val md5u32Builder: Seq[Expression] => Expression = {
    case Seq(s) => Md5Uint32(s)
    case other => throw new IllegalArgumentException(
      s"graft_md5u32 takes exactly 1 argument, got ${other.length}")
  }

  private val sdotInfo = new ExpressionInfo(
    classOf[SparseDotSorted].getName, "graft_sdot")

  private val sdotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SparseDotSorted(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_sdot takes exactly 2 arguments, got ${other.length}")
  }

  private val entropyInfo = new ExpressionInfo(
    classOf[CharEntropyExpr].getName, "graft_entropy")

  private val entropyBuilder: Seq[Expression] => Expression = {
    case Seq(s) => CharEntropyExpr(s)
    case other => throw new IllegalArgumentException(
      s"graft_entropy takes exactly 1 argument, got ${other.length}")
  }

  private val normalizeInfo = new ExpressionInfo(
    classOf[NormalizeTextExpr].getName, "graft_normalize")

  private val normalizeBuilder: Seq[Expression] => Expression = {
    case Seq(s) => NormalizeTextExpr(s)
    case other => throw new IllegalArgumentException(
      s"graft_normalize takes exactly 1 argument, got ${other.length}")
  }

  // Spark ships Bloom-filter expressions for its own runtime row-level
  // filtering but does NOT register them as SQL functions; exposing them
  // through the registry gives the dedup tier a standing membership
  // sketch without writing (or maintaining) a second Bloom implementation.
  // graft_bloom_agg(xxhash64(k), estItems, numBits) -> BINARY sketch;
  // graft_might_contain(<binary literal>, xxhash64(k)) -> BOOLEAN
  // (no false negatives; false positives at the sized fpp).
  //
  // VERSION-COUPLING WARNING: BloomFilterAggregate/BloomFilterMightContain
  // are Spark-INTERNAL catalyst classes (their constructors are not public
  // API), and the aggregate silently CAPS numItems/numBits at
  // spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits
  // (defaults 4M items / 67108864 bits). A Spark upgrade or a conf change
  // can alter the effective fpp with no compile-time or runtime signal —
  // BloomRegistrySpec pins the sketch's size/no-false-negative contract so
  // an upgrade breaks a test, not production.
  private val bloomAggInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
    "graft_bloom_agg")

  private val bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(child, items, bits) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        child, items, bits).toAggregateExpression()
    case other => throw new IllegalArgumentException(
      s"graft_bloom_agg takes exactly 3 arguments, got ${other.length}")
  }

  private val mightContainInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
    "graft_might_contain")

  private val mightContainBuilder: Seq[Expression] => Expression = {
    case Seq(bf, v) =>
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bf, v)
    case other => throw new IllegalArgumentException(
      s"graft_might_contain takes exactly 2 arguments, got ${other.length}")
  }

  /** The ONE list of graft's native functions — (SQL name, info,
    * builder) — that both [[register]] and [[GraftExtensions]] install.
    */
  private[functions] val Natives: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", dotInfo, dotBuilder),
    ("graft_l2q", l2qInfo, l2qBuilder),
    ("graft_ldot", ldotInfo, ldotBuilder),
    ("graft_fddot", fddotInfo, fddotBuilder),
    ("graft_firstmatch", firstmatchInfo, firstmatchBuilder),
    ("graft_packsig", packsigInfo, packsigBuilder),
    ("graft_md5pre", md5preInfo, md5preBuilder),
    ("graft_md5u32", md5u32Info, md5u32Builder),
    ("graft_sdot", sdotInfo, sdotBuilder),
    ("graft_entropy", entropyInfo, entropyBuilder),
    ("graft_normalize", normalizeInfo, normalizeBuilder),
    ("graft_bloom_agg", bloomAggInfo, bloomAggBuilder),
    ("graft_might_contain", mightContainInfo, mightContainBuilder))

  /** Idempotently register graft functions into an existing session. */
  def register(spark: SparkSession): Unit =
    Natives.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info, builder)
    }
}

/** `spark.sql.extensions`-style injection point:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`. It
  * installs the native functions and `graft.GraftSession`'s optimizer
  * rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.Natives.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    graft.GraftSession.injectRules(ext)
  }
}
