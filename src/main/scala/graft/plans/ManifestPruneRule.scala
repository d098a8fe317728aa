package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

import graft.functions._

/** Manifest pruning as a PLANNER hook (Iceberg-parity manifest skipping
  * inside ordinary queries over the encoded `data` directory): a `Filter`
  * whose condition carries encoded-domain probes (`blob_contains` /
  * `blob_count_eq > 0` / `blob_contains_between(_str)` /
  * `blob_null_count > 0` — the forms EncodedFilterRule itself produces from
  * decoded-domain predicates) sitting directly on a graft table's `data`
  * directory is narrowed with `__part IN (surviving parts)`, computed from
  * the sibling `meta` manifest's zone maps at optimization time.
  *
  * `__part` is the table's hive-style partition column, so Catalyst's native
  * partition pruning turns the injected predicate into "never open the
  * pruned part directories" — bytes read ∝ surviving parts, with no code
  * change in the query. The lookup answers from the driver-held
  * [[Manifest]] in plain Scala ([[ManifestView.survivingLong]] and its
  * siblings, the rule the readDataPruned* readers apply too), so optimizing
  * a query starts no Spark job; a manifest with rows from before file
  * tracking throws there, and the query runs unpruned.
  *
  * Guards: skipped when the condition already references `__part` (also the
  * fixed-point idempotency guard), when no conjunct is a recognizable probe,
  * when the manifest admits (almost) every part (no point bloating the
  * plan), or when the IN-list would exceed [[ManifestPruneRule.MaxInList]].
  */
class ManifestPruneRule(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {
  import ManifestPruneRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) if !cond.references.exists(_.name == "__part") =>
      Bridge.fileScanRootPath(child) match {
        case Some(path) if path.endsWith("/data") && hasMeta(path) =>
          val outDir = path.stripSuffix("/data")
          // each conjunct may be a single probe or a DISJUNCTION of probes
          // (the IN-list rewrite produces OR-of-contains): a disjunction
          // prunes to the UNION of its disjuncts' survivors, and only when
          // every disjunct is recognizable — an opaque disjunct could
          // admit any part
          val probes: Seq[Seq[Probe]] = splitConjunctivePredicates(cond).flatMap { conj =>
            val ds = splitDisjunctivePredicates(conj).map(probeOf)
            if (ds.nonEmpty && ds.forall(_.isDefined)) Some(ds.map(_.get)) else None
          }
          val partAttr = child.output.find(_.name == "__part")
          if (probes.isEmpty || partAttr.isEmpty) f
          else {
            try {
              def survivorsOf(p: Probe): Set[Int] = p match {
                case LongRange(c, lo, hi) =>
                  EncodePipeline.survivingPartsLong(spark, outDir, c, lo, hi).toSet
                case StrRange(c, lo, hi) =>
                  EncodePipeline.survivingPartsStr(spark, outDir, c, lo, hi).toSet
                case NullProbe(c) =>
                  EncodePipeline.survivingPartsIsNull(spark, outDir, c).toSet
              }
              val surviving = probes
                .map(_.map(survivorsOf).reduce(_ union _))
                .reduce(_ intersect _)
              val all = EncodePipeline.allParts(spark, outDir).length
              if (surviving.isEmpty)
                Filter(And(cond, Literal.FalseLiteral), child)
              else if (surviving.size >= all || surviving.size > MaxInList) f
              else
                Filter(And(cond,
                  In(partAttr.get, surviving.toSeq.sorted.map(Literal(_)))), child)
            } catch {
              // a malformed/mid-write manifest must never fail the query —
              // pruning is an optimization, the unpruned plan is correct
              case _: Exception => f
            }
          }
        case _ => f
      }
  }

  private def hasMeta(dataPath: String): Boolean =
    try EncodePipeline.hasManifest(spark, dataPath.stripSuffix("/data"))
    catch { case _: Exception => false }
}

object ManifestPruneRule {
  /** beyond this the IN-list costs more than the pruning saves */
  final val MaxInList = 1000

  private sealed trait Probe
  private final case class LongRange(column: String, lo: Long, hi: Long) extends Probe
  private final case class StrRange(column: String, lo: Array[Byte], hi: Array[Byte]) extends Probe
  private final case class NullProbe(column: String) extends Probe

  /** manifest column behind a blob attribute (`e_url` → `url`) */
  private def colOf(e: Expression): Option[String] = e match {
    case a: AttributeReference if a.name.startsWith("e_") => Some(a.name.drop(2))
    case _ => None
  }

  private def bytesOf(l: Literal): Array[Byte] = l.value match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.getBytes
    case b: Array[Byte] => b
  }

  private def isStrBound(l: Literal): Boolean =
    (l.dataType == StringType || l.dataType == BinaryType) && l.value != null

  /** one conjunct → one manifest probe, when the shapes line up. Range
    * bounds map to INCLUSIVE zone-map intersection regardless of the
    * kernel's own inclusivity flags — a superset, so always sound. */
  private def probeOf(e: Expression): Option[Probe] = e match {
    case BlobContains(b, Literal(v: Long, LongType)) =>
      colOf(b).map(LongRange(_, v, v))
    case BlobContains(b, l: Literal) if isStrBound(l) =>
      colOf(b).map(StrRange(_, bytesOf(l), bytesOf(l)))
    case GreaterThan(BlobCountEq(b, Literal(v: Long, LongType)), Literal(0L, LongType)) =>
      colOf(b).map(LongRange(_, v, v))
    case GreaterThan(BlobCountEq(b, l: Literal), Literal(0L, LongType)) if isStrBound(l) =>
      colOf(b).map(StrRange(_, bytesOf(l), bytesOf(l)))
    case BlobContainsBetween(b, Literal(lo: Long, LongType), Literal(hi: Long, LongType)) =>
      colOf(b).map(LongRange(_, lo, hi))
    case BlobContainsBetweenStr(b, lo: Literal, hi: Literal, _, _)
        if (isStrBound(lo) || lo.value == null) && (isStrBound(hi) || hi.value == null) =>
      colOf(b).map(StrRange(_,
        if (lo.value == null) null else bytesOf(lo),
        if (hi.value == null) null else bytesOf(hi)))
    case GreaterThan(BlobNullCount(b), Literal(0L, LongType)) =>
      colOf(b).map(NullProbe(_))
    case _ => None
  }
}
