package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
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
  *    loop inside whole-stage codegen.
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
