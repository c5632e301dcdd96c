package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import graft.llm.{CosineSim, DotProduct, DupTokenFrac, IntDotProduct, MinHashSig, RollingFingerprint, Shingles, SimHash64}

/** Catalyst integration, registered the standard way
  * (`spark.sql.extensions=graft.plans.GraftExtensions`, set by
  * `Engine.session`, which builds every session here, the harness
  * mains' included; any external session can opt in with the same conf):
  *
  *  - every custom codegen'd kernel becomes a plain SQL function
  *    (`graft_dot`, `graft_simhash`, …), so the pure-SQL surface reaches
  *    the same single-loop expressions the DataFrame helpers use;
  *  - `FuseVectorKernels` rewrites the declarative dot-product idiom
  *    `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0d, (acc,v) -> acc+v)`
  *    into the fused [[graft.llm.DotProduct]] kernel — users who write
  *    the idiomatic built-in form get kernel speed without knowing the
  *    kernel exists. The composable form is CodegenFallback (it
  *    re-interprets its lambda per row); the kernel is one primitive
  *    loop inside whole-stage codegen;
  *  - `SmallSortSinglePartition`, an adaptive query-stage preparation
  *    rule: a global sort whose input is one small, already materialized
  *    shuffle stage gathers that input through one `SinglePartition`
  *    exchange instead of a range exchange, so no RangePartitioner
  *    sample job re-reads the stage. The decision is made from the map
  *    output of a stage that has run (Shark's partial DAG execution);
  *    initial plans are unchanged.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "graft_dot", classOf[DotProduct]) {
      case Seq(a, b) => DotProduct(a, b)
    }
    register(ext, "graft_cosine_sim", classOf[CosineSim]) {
      case Seq(a, b) => CosineSim(a, b)
    }
    register(ext, "graft_int_dot", classOf[IntDotProduct]) {
      case Seq(a, b) => IntDotProduct(a, b)
    }
    register(ext, "graft_simhash", classOf[SimHash64]) {
      case Seq(toks) => SimHash64(toks)
      case Seq(toks, Literal(poly: Boolean, _)) => SimHash64(toks, poly)
    }
    register(ext, "graft_shingles", classOf[Shingles]) {
      case Seq(toks, IntLit(n)) => Shingles(toks, n)
    }
    register(ext, "graft_minhash_sig", classOf[MinHashSig]) {
      case Seq(toks, IntLit(n), IntLit(h)) => MinHashSig(toks, n, h)
    }
    register(ext, "graft_dup_token_frac", classOf[DupTokenFrac]) {
      case Seq(toks) => DupTokenFrac(toks)
    }
    register(ext, "graft_rolling_fingerprint", classOf[RollingFingerprint]) {
      case Seq(text, IntLit(w)) => RollingFingerprint(text, w)
    }
    register(ext, "graft_mg_summary", classOf[graft.llm.MisraGriesSummary]) {
      case Seq(tok, IntLit(k)) => graft.llm.MisraGriesSummary(tok, k)
    }
    ext.injectOptimizerRule(_ => FuseVectorKernels)
    ext.injectQueryStagePrepRule(_ => SmallSortSinglePartition)
  }
}

object GraftExtensions {

  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
  }

  private def register(ext: SparkSessionExtensions, name: String, cls: Class[_])(
      build: PartialFunction[Seq[Expression], Expression]): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) =>
        build.applyOrElse(children, (cs: Seq[Expression]) =>
          throw new IllegalArgumentException(
            s"$name: unsupported argument list (${cs.map(_.dataType).mkString(", ")}); " +
              "literal ints/bools required for shape parameters"))))
}

/** Rewrites `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0d, (acc,v) -> acc+v)`
  * (any finish that is the identity lambda, either multiplication order)
  * into [[graft.llm.DotProduct]].
  *
  * The match is deliberately strict so the rewrite is exactly
  * semantics-preserving:
  *
  *  - the multiply must be double-typed with BARE lambda variables (so the
  *    per-element product is a double multiply of double elements — a
  *    float-typed multiply rounds each product to float first, which the
  *    double-accumulating kernel would not replicate);
  *  - the zero must be literal 0.0d and the merge a bare `acc + v`;
  *  - ANSI vs legacy eval mode is irrelevant at double type (no overflow
  *    errors exist for doubles), so any mode matches.
  *
  * Null semantics need no guard: DotProduct itself replicates the
  * composable form's nulls (length mismatch or any null element → NULL).
  * Integer-typed idioms are left unfused on purpose — their composable
  * form wraps (legacy) or throws (ANSI) on int overflow, while
  * IntDotProduct accumulates in long; fusing would change results
  * exactly where the semantics diverge.
  */
object FuseVectorKernels extends Rule[LogicalPlan] {

  private def sameVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case n: NamedLambdaVariable => n.exprId == v.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(l, r,
            LambdaFunction(m @ Multiply(mx, my, _), Seq(zx: NamedLambdaVariable, zy: NamedLambdaVariable), _)),
          Literal(zero, DoubleType),
          LambdaFunction(Add(aAcc, aElem, _), Seq(acc: NamedLambdaVariable, elem: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(facc: NamedLambdaVariable), _))
        if zero == 0.0 && m.dataType == DoubleType &&
          ((sameVar(mx, zx) && sameVar(my, zy)) || (sameVar(mx, zy) && sameVar(my, zx))) &&
          ((sameVar(aAcc, acc) && sameVar(aElem, elem)) || (sameVar(aAcc, elem) && sameVar(aElem, acc))) &&
          fin.exprId == facc.exprId =>
      DotProduct(l, r)
  }
}

/** Replaces the range exchange under a global sort by a `SinglePartition`
  * exchange when the exchange's input is small and already measured.
  *
  * A range exchange starts with a RangePartitioner, whose boundary
  * sample is one more Spark job over the whole child: on the small
  * sorted results of most queries that job re-reads a few hundred KB of
  * shuffle output, writes nothing, and costs more than the sort. The
  * rule engages when all of these hold:
  *
  *  - the exchange is the one `EnsureRequirements` put under a global
  *    `SortExec` (origin `ENSURE_REQUIREMENTS`; a user's
  *    `repartitionByRange` keeps its layout);
  *  - below it, a chain of single-child operators that do not multiply
  *    rows ends in one materialized shuffle stage;
  *  - that stage's map output is at most
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
  *    already deems right for one partition.
  *
  * The operators that do not multiply rows are the projections, filters,
  * aggregates, windows, local sorts and limits, the object
  * (de)serializers, and AQE's shuffle reads. A typed `mapPartitions`
  * function is opaque; it is taken as non-expanding too, because the
  * engine's per-partition passes (`graft.ops.Linkage`'s block pass) emit
  * at most one row per input record, and a function that does multiply
  * rows over such small input costs one sorted task at worst. A
  * `Generate`, an `Expand`, a join or any operator with more than one
  * child keeps the range exchange, and so does an exchange over a stage
  * that has not run: the rule only acts on adaptive re-planning, after
  * the stage's statistics exist. The sort itself is unchanged, so the
  * result is the same rows in the same order.
  */
object SmallSortSinglePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val limit = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case s: SortExec if s.global => s.child match {
        case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
            if stageBytes(child).exists(_ <= limit) =>
          val single = e.copy(outputPartitioning = SinglePartition)
          single.copyTagsFrom(e)
          s.withNewChildren(Seq(single))
        case _ => s
      }
    }
  }

  /** Map output bytes of the materialized shuffle stage at the end of a
    * chain of non-expanding operators, if `p` is such a chain.
    */
  @tailrec private def stageBytes(p: SparkPlan): Option[Long] = p match {
    case q: ShuffleQueryStageExec =>
      if (q.isMaterialized) q.mapStats.map(_.bytesByPartitionId.sum) else None
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: WindowExec |
         _: SortExec | _: LocalLimitExec | _: GlobalLimitExec | _: CollectMetricsExec |
         _: DeserializeToObjectExec | _: SerializeFromObjectExec | _: MapElementsExec |
         _: MapPartitionsExec | _: AQEShuffleReadExec =>
      stageBytes(p.children.head)
    case _ => None
  }
}
