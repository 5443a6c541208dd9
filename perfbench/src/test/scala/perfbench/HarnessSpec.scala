package perfbench

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  test("result numbers parse back under a decimal-comma default locale") {
    val before = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      val text = Main.toJson(Map("x" -> 1234.5678, "n" -> 3L, "s" -> Seq("a\"b")))
      val tree = new ObjectMapper().readTree(text)
      assert(tree.get("x").doubleValue == 1234.5678)
      assert(tree.get("n").longValue == 3L)
      assert(tree.get("s").get(0).textValue == "a\"b")
    } finally Locale.setDefault(before)
  }

  test("covered time is the union of intervals clipped to the window") {
    assert(Layers.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0.0, 10.0) == 4.0)
    assert(Layers.covered(Seq((0.0, 2.0), (1.5, 4.0)), 1.0, 3.0) == 2.0)
    assert(Layers.covered(Seq((4.0, 5.0)), 0.0, 3.0) == 0.0)
  }

  test("plan counts cover the queries of the counted body, not the checks around it") {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val plans = new PlanListener
      spark.range(10).count() // a check before the op
      plans.counting(spark) {
        spark.range(0, 100, 1, 4).groupBy((org.apache.spark.sql.functions.col("id") % 3)).count().collect()
      }
      spark.range(10).count() // a check after it
      ListenerBusDrain(spark.sparkContext)
      assert(plans.queries == 1)
      assert(plans.exchanges >= 1)
    } finally spark.stop()
  }
}
