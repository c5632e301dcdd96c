package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-independent numeric aggregates.
  *
  * Summing IEEE doubles is order-dependent, and Spark's shuffle order is
  * nondeterministic — at cluster scale two runs of the same query can differ
  * in the last bits, and a DuckDB oracle will differ too. Routing money-like
  * doubles through a fixed-scale decimal makes the sum exact and therefore
  * identical on every engine and every partitioning. Integer sums are exact
  * in doubles up to 2^53 and need no treatment.
  */
object Exact {

  private val Money = DecimalType(38, 6)

  /** sum(x) rounded to 2dp, exact: decimal(38,6) accumulation → double. */
  def moneySum(c: Column): Column =
    round(sum(c.cast(Money)), 2).cast("double")
}
