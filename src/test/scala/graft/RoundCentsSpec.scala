package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions._

/** Money sums round to cents on the exact DECIMAL, then cast to double
  * (`SparkEntry.roundCents`, `CAST(round(<decimal>, 2) AS DOUBLE)` in the
  * oracles). Rounding the double instead put rel_tpch_q9 one cent off its
  * DuckDB oracle on a half-cent tie.
  */
class RoundCentsSpec extends SparkSpec {
  import spark.implicits._

  private def halfUp(v: String): Double =
    new JBigDecimal(v).setScale(2, RoundingMode.HALF_UP).doubleValue

  /** (roundCents(sum), round(sum.cast(double), 2)) over decimal(30,8) rows. */
  private def sums(vs: String*): (Double, Double) = {
    val dec = vs.toDF("v").select(col("v").cast("decimal(30,8)").as("v"))
    dec.agg(SparkEntry.roundCents(sum(col("v"))),
        round(sum(col("v")).cast("double"), 2))
      .as[(Double, Double)].head()
  }

  test("half-cent tie rounds HALF_UP on the decimal, not on its double") {
    // 17612379.955 is stored as a double just below the tie, so rounding
    // the binary value (DuckDB's round(DOUBLE)) gives .95
    assert(new JBigDecimal(17612379.955).setScale(2, RoundingMode.HALF_UP)
      .doubleValue == 17612379.95)
    assert(sums("17612379.95", "0.005")._1 == halfUp("17612379.955"))
    assert(sums("17612379.95", "0.005")._1 == 17612379.96)
    // negative ties round away from zero, as DuckDB's DECIMAL round does
    assert(sums("-1.00", "-0.005")._1 == -1.01)
  }

  test("a sum whose double crosses the tie still rounds the exact decimal") {
    // 1e9 + 0.00499999 has no exact double; its nearest double prints as
    // 1000000000.005, which round(double, 2) takes up a cent.
    val (exact, viaDouble) = sums("1000000000.00", "0.00499999")
    assert(exact == halfUp("1000000000.00499999"))
    assert(exact == 1000000000.00)
    assert(viaDouble == 1000000000.01)
  }

  test("a null sum stays null") {
    val dec = Seq(Option.empty[String]).toDF("v")
      .select(col("v").cast("decimal(30,8)").as("v"))
    assert(dec.agg(SparkEntry.roundCents(sum(col("v")))).head().isNullAt(0))
  }
}
