package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}

import graft.functions.{BlobContains, BlobContainsBetween, BlobContainsBetweenStr, BlobCountBetween, BlobCountBetweenStr, BlobCountEq, BlobNullCount, DecodeBinary, DecodeLongs, DecodeStrings}

/** Encoded-domain predicate pushdown (SURVEY.md §4 extension point): a
  * membership or range test against a *decoded* block —
  * `array_contains(decode_strings(blob), 'en')`,
  * `exists(decode_longs(blob), x -> x BETWEEN lo AND hi)`,
  * `size(filter(decode_longs(blob), x -> x >= lo)) > 0` — is rewritten to
  * `blob_contains` / `blob_contains_between` / `blob_count_between`, which
  * answer from the blob header / dictionary / compressed spans without
  * materializing the block (graft.core.Codecs.countEqStr/countEqLong/
  * countBetweenLong). Semantics are identical, including the three-valued
  * null behavior of array_contains/exists (filter drops null-predicate
  * elements, so the size(filter(...)) form is two-valued).
  *
  * At 100 TB this is the difference between "scan the dictionary/header of
  * every block" (bytes ∝ dictionaries) and "decode every block to filter it"
  * (bytes ∝ the whole table). The reference has no analog — its lanes are
  * compile-time — but this is the same idea as its compile-time mask-strategy
  * dispatch: answer in the packed domain whenever the header proves it safe.
  */
object EncodedFilterRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayContains(DecodeStrings(blob), v @ Literal(_, StringType)) => BlobContains(blob, v)
    case ArrayContains(DecodeBinary(blob), v @ Literal(_, BinaryType))  => BlobContains(blob, v)
    case ArrayContains(DecodeLongs(blob), v @ Literal(_, LongType))     => BlobContains(blob, v)

    // exists(decode_*(b), x -> x IS NULL) — answered from the null-wrapper
    // header alone (blob_null_count popcounts the bitmap; no payload
    // decode). The lambda is never null, so the exists is two-valued and
    // the rewrite is exact regardless of the 3VL flag.
    case ArrayExists(DecodeLongs(blob),
        LambdaFunction(IsNull(x), Seq(v: NamedLambdaVariable), _), _) if x.semanticEquals(v) =>
      GreaterThan(BlobNullCount(blob), Literal(0L, LongType))
    case ArrayExists(DecodeStrings(blob),
        LambdaFunction(IsNull(x), Seq(v: NamedLambdaVariable), _), _) if x.semanticEquals(v) =>
      GreaterThan(BlobNullCount(blob), Literal(0L, LongType))

    // exists(decode_longs(b), x -> <literal range / equality on x>).
    // Guarded on followThreeValuedLogic=true: the rewrites reproduce the
    // modern 3VL semantics (null when no match but the block holds nulls);
    // under spark.sql.legacy.followThreeValuedLogicInArrayExists=false the
    // built-in returns false there, so we leave it alone.
    case ae @ ArrayExists(DecodeLongs(blob),
        LambdaFunction(body, Seq(v: NamedLambdaVariable), _), true) =>
      body match {
        case EqualTo(x, l @ Literal(_, LongType)) if x.semanticEquals(v) => BlobContains(blob, l)
        case EqualTo(l @ Literal(_, LongType), x) if x.semanticEquals(v) => BlobContains(blob, l)
        case _ => inListLits(body, v) match {
          case Some(ls) => ls.map(l => BlobContains(blob, l): Expression).reduce(Or)
          case None => rangeOf(body, v) match {
            case Some((lo, hi)) =>
              BlobContainsBetween(blob, Literal(lo, LongType), Literal(hi, LongType))
            case None => ae
          }
        }
      }

    // size(filter(decode_longs(b), x -> <range>)) — the match count itself;
    // comparisons over it then fold naturally (`> 0`, `>= 1`, aggregation).
    // Guarded on legacySizeOfNull=false: under the legacy flag size(null)
    // is -1, but Cast(BlobCountBetween) of a null blob is null.
    case sz @ Size(ArrayFilter(DecodeLongs(blob),
        LambdaFunction(body, Seq(v: NamedLambdaVariable), _)), false) =>
      inListLits(body, v) match {
        case Some(ls) => Cast(ls.map(l => BlobCountEq(blob, l): Expression).reduce(Add(_, _)), IntegerType)
        case None => rangeOf(body, v) match {
          case Some((lo, hi)) =>
            Cast(BlobCountBetween(blob, Literal(lo, LongType), Literal(hi, LongType)), IntegerType)
          case None => sz
        }
      }

    // exists(decode_strings(b), x -> <literal equality / range on x>) —
    // string ranges answer from the sorted dictionary header / value spans
    // without rebuilding a single string (Codecs.countBetweenStr). Bounds
    // compare as UTF-8 bytes, identical to UTF8_BINARY string order.
    case ae @ ArrayExists(DecodeStrings(blob),
        LambdaFunction(body, Seq(v: NamedLambdaVariable), _), true) =>
      body match {
        case EqualTo(x, l @ Literal(_, StringType)) if x.semanticEquals(v) => BlobContains(blob, l)
        case EqualTo(l @ Literal(_, StringType), x) if x.semanticEquals(v) => BlobContains(blob, l)
        case _ => inListLits(body, v) match {
          case Some(ls) => ls.map(l => BlobContains(blob, l): Expression).reduce(Or)
          case None => strRangeOf(body, v) match {
            case Some(r) if r.lo != null || r.hi != null =>
              BlobContainsBetweenStr(blob, binLit(r.lo), binLit(r.hi), r.loInc, r.hiInc)
            case _ => ae
          }
        }
      }

    // size(filter(decode_strings(b), x -> <range / IN-list>))
    case sz @ Size(ArrayFilter(DecodeStrings(blob),
        LambdaFunction(body, Seq(v: NamedLambdaVariable), _)), false) =>
      inListLits(body, v) match {
        case Some(ls) => Cast(ls.map(l => BlobCountEq(blob, l): Expression).reduce(Add(_, _)), IntegerType)
        case None => strRangeOf(body, v) match {
          case Some(r) if r.lo != null || r.hi != null =>
            Cast(BlobCountBetweenStr(blob, binLit(r.lo), binLit(r.hi), r.loInc, r.hiInc), IntegerType)
          case _ => sz
        }
      }

    // binary-column parity: the byte-string kernels compare unsigned
    // lexicographic exactly like Spark's BinaryType ordering, so the same
    // rewrites apply to decode_binary blocks
    case ArrayExists(DecodeBinary(blob),
        LambdaFunction(IsNull(x), Seq(v: NamedLambdaVariable), _), _) if x.semanticEquals(v) =>
      GreaterThan(BlobNullCount(blob), Literal(0L, LongType))
    case ae @ ArrayExists(DecodeBinary(blob),
        LambdaFunction(body, Seq(v: NamedLambdaVariable), _), true) =>
      body match {
        case EqualTo(x, l @ Literal(_, BinaryType)) if x.semanticEquals(v) => BlobContains(blob, l)
        case EqualTo(l @ Literal(_, BinaryType), x) if x.semanticEquals(v) => BlobContains(blob, l)
        case _ => inListLits(body, v) match {
          case Some(ls) => ls.map(l => BlobContains(blob, l): Expression).reduce(Or)
          case None => strRangeOf(body, v) match {
            case Some(r) if r.lo != null || r.hi != null =>
              BlobContainsBetweenStr(blob, binLit(r.lo), binLit(r.hi), r.loInc, r.hiInc)
            case _ => ae
          }
        }
      }
    case sz @ Size(ArrayFilter(DecodeBinary(blob),
        LambdaFunction(body, Seq(v: NamedLambdaVariable), _)), false) =>
      inListLits(body, v) match {
        case Some(ls) => Cast(ls.map(l => BlobCountEq(blob, l): Expression).reduce(Add(_, _)), IntegerType)
        case None => strRangeOf(body, v) match {
          case Some(r) if r.lo != null || r.hi != null =>
            Cast(BlobCountBetweenStr(blob, binLit(r.lo), binLit(r.hi), r.loInc, r.hiInc), IntegerType)
          case _ => sz
        }
      }
  }

  /** the distinct non-null literal values of an IN-list predicate on `v`
    * (both the `In` form and the optimizer's `InSet` conversion); None when
    * the body is not an IN over literals, or any list element is null /
    * non-literal (a null element makes IN three-valued in a way a
    * contains-disjunction would not reproduce). The disjunction-of-contains
    * rewrite is 3VL-exact: each BlobContains is null exactly when the block
    * has no match but holds nulls, matching exists() semantics term-wise. */
  private def inListLits(body: Expression, v: NamedLambdaVariable): Option[Seq[Literal]] = body match {
    case In(x, vs) if x.semanticEquals(v) &&
        vs.forall { case Literal(s, _) => s != null; case _ => false } =>
      val seen = scala.collection.mutable.LinkedHashMap[Any, Literal]()
      vs.foreach { case l @ Literal(s, _) =>
        val k = s match { case b: Array[Byte] => b.toSeq; case other => other }
        if (!seen.contains(k)) seen(k) = l
      }
      Some(seen.values.toSeq)
    case InSet(x, hset) if x.semanticEquals(v) && !hset.contains(null) =>
      Some(hset.toSeq.map(s => Literal(s, x.dataType)))
    case _ => None
  }

  /** half-open/closed byte-string interval; null bound = unbounded */
  private final case class SRange(lo: Array[Byte], loInc: Boolean,
                                  hi: Array[Byte], hiInc: Boolean)

  private def binLit(b: Array[Byte]): Literal = Literal(b, BinaryType)

  /** comparison bytes of a string OR binary bound literal: Spark compares
    * both types unsigned-lexicographically, exactly like the kernels */
  private def utf8Bytes(l: Literal): Array[Byte] = l.value match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.getBytes
    case b: Array[Byte] => b
  }

  private def isBoundType(t: org.apache.spark.sql.types.DataType): Boolean =
    t == StringType || t == BinaryType

  /** the interval a conjunction of literal string comparisons on `v`
    * selects; None when the body is not a pure range predicate on v.
    * Non-null literals only (a null bound literal means the comparison is
    * always null — not a range). */
  private def strRangeOf(e: Expression, v: NamedLambdaVariable): Option[SRange] = e match {
    case _ if e.dataType != org.apache.spark.sql.types.BooleanType => None
    case GreaterThanOrEqual(x, l @ Literal(s, t)) if isBoundType(t) && x.semanticEquals(v) && s != null =>
      Some(SRange(utf8Bytes(l), loInc = true, null, hiInc = true))
    case GreaterThan(x, l @ Literal(s, t)) if isBoundType(t) && x.semanticEquals(v) && s != null =>
      Some(SRange(utf8Bytes(l), loInc = false, null, hiInc = true))
    case LessThanOrEqual(x, l @ Literal(s, t)) if isBoundType(t) && x.semanticEquals(v) && s != null =>
      Some(SRange(null, loInc = true, utf8Bytes(l), hiInc = true))
    case LessThan(x, l @ Literal(s, t)) if isBoundType(t) && x.semanticEquals(v) && s != null =>
      Some(SRange(null, loInc = true, utf8Bytes(l), hiInc = false))
    // literal-on-left mirrors
    case GreaterThanOrEqual(l @ Literal(s, t), x) if isBoundType(t) && x.semanticEquals(v) && s != null =>
      Some(SRange(null, loInc = true, utf8Bytes(l), hiInc = true))
    case GreaterThan(l @ Literal(s, t), x) if isBoundType(t) && x.semanticEquals(v) && s != null =>
      Some(SRange(null, loInc = true, utf8Bytes(l), hiInc = false))
    case LessThanOrEqual(l @ Literal(s, t), x) if isBoundType(t) && x.semanticEquals(v) && s != null =>
      Some(SRange(utf8Bytes(l), loInc = true, null, hiInc = true))
    case LessThan(l @ Literal(s, t), x) if isBoundType(t) && x.semanticEquals(v) && s != null =>
      Some(SRange(utf8Bytes(l), loInc = false, null, hiInc = true))
    // startswith(x, 'p') / x LIKE 'p%' (LikeSimplification runs in the same
    // fixed point): a prefix test IS the byte range [p, succ(p)) under
    // UTF8_BINARY — the default collation, the only one these kernels see.
    // All-0xFF prefixes have no successor → one-sided range; empty prefix
    // matches every non-null string → [ "", +inf ), same 3VL as >=.
    case StartsWith(x, l @ Literal(s, t)) if isBoundType(t) && x.semanticEquals(v) && s != null =>
      val p = utf8Bytes(l)
      Some(SRange(p, loInc = true, prefixSucc(p), hiInc = false))
    case And(a, b) =>
      for (ra <- strRangeOf(a, v); rb <- strRangeOf(b, v)) yield {
        val (lo, loInc) = tighterLo(ra.lo, ra.loInc, rb.lo, rb.loInc)
        val (hi, hiInc) = tighterHi(ra.hi, ra.hiInc, rb.hi, rb.hiInc)
        SRange(lo, loInc, hi, hiInc)
      }
    case _ => None
  }

  /** the smallest byte string greater than every string with prefix `p`:
    * drop trailing 0xFF bytes, increment the last remaining byte; null
    * (unbounded) when p is empty or all-0xFF */
  private def prefixSucc(p: Array[Byte]): Array[Byte] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) return null
    val out = java.util.Arrays.copyOf(p, i + 1)
    out(i) = (out(i) + 1).toByte
    out
  }

  private def tighterLo(a: Array[Byte], aInc: Boolean,
                        b: Array[Byte], bInc: Boolean): (Array[Byte], Boolean) = {
    if (a == null) (b, bInc)
    else if (b == null) (a, aInc)
    else {
      val c = java.util.Arrays.compareUnsigned(a, b)
      if (c > 0) (a, aInc) else if (c < 0) (b, bInc) else (a, aInc && bInc)
    }
  }

  private def tighterHi(a: Array[Byte], aInc: Boolean,
                        b: Array[Byte], bInc: Boolean): (Array[Byte], Boolean) = {
    if (a == null) (b, bInc)
    else if (b == null) (a, aInc)
    else {
      val c = java.util.Arrays.compareUnsigned(a, b)
      if (c < 0) (a, aInc) else if (c > 0) (b, bInc) else (a, aInc && bInc)
    }
  }

  /** the closed interval a conjunction of literal comparisons on `v` selects;
    * None when the body is not a pure range predicate on v. Strict bounds
    * at Long.{Min,Max}Value are left unrewritten (the ±1 would wrap). */
  private def rangeOf(e: Expression, v: NamedLambdaVariable): Option[(Long, Long)] = e match {
    case GreaterThanOrEqual(x, Literal(lo: Long, LongType)) if x.semanticEquals(v) =>
      Some((lo, Long.MaxValue))
    case LessThanOrEqual(x, Literal(hi: Long, LongType)) if x.semanticEquals(v) =>
      Some((Long.MinValue, hi))
    case GreaterThan(x, Literal(lo: Long, LongType)) if x.semanticEquals(v) && lo != Long.MaxValue =>
      Some((lo + 1, Long.MaxValue))
    case LessThan(x, Literal(hi: Long, LongType)) if x.semanticEquals(v) && hi != Long.MinValue =>
      Some((Long.MinValue, hi - 1))
    // literal-on-left mirrors
    case GreaterThanOrEqual(Literal(hi: Long, LongType), x) if x.semanticEquals(v) =>
      Some((Long.MinValue, hi))
    case LessThanOrEqual(Literal(lo: Long, LongType), x) if x.semanticEquals(v) =>
      Some((lo, Long.MaxValue))
    case GreaterThan(Literal(hi: Long, LongType), x) if x.semanticEquals(v) && hi != Long.MinValue =>
      Some((Long.MinValue, hi - 1))
    case LessThan(Literal(lo: Long, LongType), x) if x.semanticEquals(v) && lo != Long.MaxValue =>
      Some((lo + 1, Long.MaxValue))
    case And(a, b) =>
      for (ra <- rangeOf(a, v); rb <- rangeOf(b, v))
        yield (math.max(ra._1, rb._1), math.min(ra._2, rb._2))
    case _ => None
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` installs the engine's
  * optimizer rules, its empty-scan planner strategy and SQL function
  * surface into a session — every codec / blob expression becomes callable
  * from `spark.sql(...)` and `expr(...)`, so the pushdown rules fire on
  * SQL-authored predicates too. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import graft.functions._

  private def info(name: String) = new ExpressionInfo("graft", name)

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "encode_longs" -> { case Seq(c) => EncodeLongs(c) },
    "decode_longs" -> { case Seq(c) => DecodeLongs(c) },
    "encode_strings" -> { case Seq(c) => EncodeStrings(c) },
    "decode_strings" -> { case Seq(c) => DecodeStrings(c) },
    "encode_binary" -> { case Seq(c) => EncodeBinary(c) },
    "decode_binary" -> { case Seq(c) => DecodeBinary(c) },
    "blob_codec" -> { case Seq(c) => BlobCodec(c) },
    "blob_page" -> { case Seq(c) => BlobPageCompressed(c) },
    "blob_count_eq" -> { case Seq(b, v) => BlobCountEq(b, v) },
    "blob_contains" -> { case Seq(b, v) => BlobContains(b, v) },
    "blob_count_between" -> { case Seq(b, lo, hi) => BlobCountBetween(b, lo, hi) },
    "blob_contains_between" -> { case Seq(b, lo, hi) => BlobContainsBetween(b, lo, hi) },
    // NOTE on bound semantics (deliberate, documented divergence from SQL
    // comparison operators): a NULL lo/hi bound means UNBOUNDED on that
    // side, not null-propagation — it is how one-sided ranges are spelled
    // (`blob_count_between_str(b, NULL, x)` counts values <= x; there is no
    // "maximum string" literal that could express it otherwise). The
    // EncodedFilterRule pushdowns rely on this when rewriting one-sided
    // predicates into these calls.
    "blob_count_between_str" -> { case Seq(b, lo, hi) => BlobCountBetweenStr(b, lo, hi) },
    "blob_contains_between_str" -> { case Seq(b, lo, hi) => BlobContainsBetweenStr(b, lo, hi) },
    "blob_null_count" -> { case Seq(b) => BlobNullCount(b) },
    "blob_range" -> { case Seq(c) => BlobRange(c) },
    "blob_range_str" -> { case Seq(c) => BlobRangeStr(c) },
    "bits_needed" -> { case Seq(c) => BitsNeeded(c) },
    "double_bits" -> { case Seq(c) => DoubleBits(c) },
    "bits_double" -> { case Seq(c) => BitsDouble(c) })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => EncodedFilterRule)
    // runs in the same fixed-point batch, AFTER EncodedFilterRule has turned
    // decoded-domain predicates into blob kernels it can recognize
    ext.injectOptimizerRule(session => new ManifestPruneRule(session))
    ext.injectPlannerStrategy(_ => graft.sources.GraftEmptyScanStrategy)
    fns.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
  }
}
