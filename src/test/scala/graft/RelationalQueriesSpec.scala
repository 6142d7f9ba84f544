package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RelationalQueries

class RelationalQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every relational query has an oracle and runs non-empty") {
    assert(RelationalQueries.oracleSql.keySet == RelationalQueries.queries.keySet)
    RelationalQueries.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }

  test("pricing summary covers all flag/status combos with sane averages") {
    val rows = RelationalQueries.pricingSummary(spark, sf).collect()
    assert(rows.length >= 4)
    rows.foreach { r =>
      val avgQty = r.getAs[Double]("avg_qty")
      assert(avgQty > 0 && avgQty <= 50.0)
    }
  }

  test("rolling min is a lower bound of rolling avg") {
    val df = RelationalQueries.rollingStats(spark, sf)
    import org.apache.spark.sql.functions._
    val bad = df.filter(col("rmin6") > col("ravg6") + 1e-6).count()
    assert(bad == 0)
  }

  test("threshold equals max of full-frame rolling mins (pandas NaN-skip semantics)") {
    val t = RelationalQueries.rollingMinMaxThreshold(spark, sf).collect()
    // one row per (event_type, user_id) series with >= 6 events
    assert(t.length > 5)
    t.foreach(r => assert(!r.isNullAt(2)))
  }

  test("top-k emits exactly k rows per group") {
    val rows = RelationalQueries.topOrdersPerPriority(spark, sf).collect()
    val perGroup = rows.groupBy(_.getString(0)).view.mapValues(_.length)
    perGroup.foreach { case (_, n) => assert(n == 3) }
  }
}
