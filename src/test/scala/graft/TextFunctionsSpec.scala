package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Equality pins for the fused text kernels (round 17): each must be
  * value-identical to the interpreted HOF composition it replaced, on the
  * live corpus and on crafted edges. */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def liveWs = Tables.documents(spark, Sf)
    .select(split(col("text"), " ").as("ws"))

  private def craftedWs = Seq(
    Seq("a"),
    Seq("a", "a", "a"),
    Seq("a", "b", "a", "c", "b", "a"),
    Seq(""),                       // split("") yields [""]
    Seq("x", "", "x", ""),
    (1 to 40).map(i => s"w${i % 7}")).toDF("ws")

  test("DistinctCounts equals transform(array_distinct, filter-count) — " +
      "live corpus + crafted") {
    val hof = expr(
      "transform(array_distinct(ws), w -> size(filter(ws, x -> x = w)))")
    Seq(liveWs, craftedWs).foreach { df =>
      val bad = df.filter(!(distinctCounts(col("ws")) <=> hof)).count()
      assert(bad == 0, s"$bad rows diverged from the HOF counts")
    }
    val nn = Seq(Option.empty[Seq[String]]).toDF("ws")
    assert(nn.select(distinctCounts(col("ws"))).head().isNullAt(0))
  }

  test("CountInSet equals size(filter(array_contains)) — live + crafted") {
    val stop = graft.llm.TextAnalysis.Stopwords
    val stopArr = array(stop.map(lit): _*)
    val hof = size(filter(col("ws"), w => array_contains(stopArr, w)))
    Seq(liveWs, craftedWs).foreach { df =>
      val bad = df.filter(!(countInSet(col("ws"), stop) <=> hof)).count()
      assert(bad == 0, s"$bad rows diverged from the filter count")
    }
  }

  test("WordWindows equals the unrolled concat_ws transform — live + crafted") {
    // The unrolled concat_ws HOF the window queries ran before the fused
    // kernel (at DupN = 13), plus small-n edges.
    Seq(2, 3, graft.llm.Dedup.DupN).foreach { n =>
      val parts = (0 until n).map(k => s"ws[i + $k]").mkString(", ")
      val hof = expr(
        s"""CASE WHEN size(ws) >= $n
            THEN transform(sequence(0, size(ws) - $n),
                           i -> concat_ws(' ', $parts))
            ELSE array() END""")
      Seq(liveWs, craftedWs).foreach { df =>
        val bad = df.filter(!(wordWindows(col("ws"), n) <=> hof)).count()
        assert(bad == 0, s"n=$n: $bad rows diverged from the HOF windows")
      }
    }
    val nn = Seq(Option.empty[Seq[String]]).toDF("ws")
    assert(nn.select(wordWindows(col("ws"), 3)).head().isNullAt(0))
  }
}
