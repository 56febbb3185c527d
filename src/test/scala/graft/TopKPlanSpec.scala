package graft

import org.apache.spark.sql.functions._

import graft.plans.TopKPerKey

/** The custom top-k-per-key operator (LogicalPlan + SparkStrategy +
  * SparkPlan): result parity with the window formulation, the partial →
  * exchange → final physical shape, and no Window/Sort in the plan.
  */
class TopKPlanSpec extends SparkSuite {
  import spark.implicits._

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("key")).orderBy(col("score").desc, col("id").asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  test("matches window row_number on a deterministic synthetic frame") {
    val df = (0 until 2000).map { i =>
      (i.toLong, s"k${i % 7}", (i * 37 % 101).toDouble)
    }.toDF("id", "key", "score").repartition(8)
    val expected = windowTopK(df, 5)
      .select("key", "id", "score").collect().map(_.toSeq).toSet
    val got = TopKPerKey.topKPerKey(df,
        Seq("key"), Seq(("score", true), ("id", false)), 5)
      .select("key", "id", "score").collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.size == 7 * 5)
  }

  test("handles ties, groups smaller than k, and k=1") {
    // every score equal -> tiebreak on id must pick the lowest ids
    val ties = (0 until 100).map(i => (i.toLong, s"k${i % 3}", 1.0))
      .toDF("id", "key", "score").repartition(5)
    val got = TopKPerKey.topKPerKey(ties,
        Seq("key"), Seq(("score", true), ("id", false)), 4)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val expected = (0 until 3).flatMap { g =>
      (0 until 100).filter(_ % 3 == g).sorted.take(4).map(i => (s"k$g", i.toLong))
    }.toSet
    assert(got == expected)

    val tiny = Seq((1L, "a", 9.0), (2L, "a", 8.0)).toDF("id", "key", "score")
    assert(TopKPerKey.topKPerKey(tiny,
      Seq("key"), Seq(("score", true)), 10).count() == 2)
    assert(TopKPerKey.topKPerKey(tiny,
        Seq("key"), Seq(("score", true)), 1)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("physical plan: partial + final TopKPerKeyExec around one exchange, no Window/Sort") {
    val df = (0 until 500).map(i => (i.toLong, s"k${i % 4}", i * 13 % 97))
      .toDF("id", "key", "score").repartition(6)
    val out = TopKPerKey.topKPerKey(df,
      Seq("key"), Seq(("score", true), ("id", false)), 3)
    val plan = out.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Sort "), plan)
    assert(out.count() == 4 * 3)
  }

  test("the session's injected strategy plans the node: no extra strategy, one exec pair") {
    val df = (0 until 50).map(i => (i.toLong, s"k${i % 3}", i % 11))
      .toDF("id", "key", "score")
    val out = TopKPerKey.topKPerKey(df, Seq("key"), Seq(("score", true), ("id", false)), 2)
    assert(out.count() == 3 * 2)
    assert(spark.experimental.extraStrategies.isEmpty)
    val execs = out.queryExecution.sparkPlan.collect {
      case e: graft.plans.TopKPerKeyExec => e.partial
    }
    assert(execs.sorted == Seq(false, true), out.queryExecution.sparkPlan)
  }

  test("randomized: parity with window row_number incl. null scores") {
    val rnd = new scala.util.Random(0x70caL)
    for (trial <- 1 to 10) {
      val rows = (0 until 400).map { i =>
        val score: java.lang.Double =
          if (rnd.nextInt(10) == 0) null else rnd.nextInt(50).toDouble
        (i.toLong, s"k${rnd.nextInt(5)}", score)
      }
      val df = rows.toDF("id", "key", "score").repartition(7)
      val k = 1 + rnd.nextInt(8)
      val expected = windowTopK(df, k)
        .select("key", "id").collect().map(_.toSeq).toSet
      val got = TopKPerKey.topKPerKey(df,
          Seq("key"), Seq(("score", true), ("id", false)), k)
        .select("key", "id").collect().map(_.toSeq).toSet
      assert(got == expected, s"trial $trial k=$k")
    }
  }

  test("emits rows sorted by order within each key") {
    val df = (0 until 300).map(i => (i.toLong, "only", (i * 7 % 83).toDouble))
      .toDF("id", "key", "score")
    val got = TopKPerKey.topKPerKey(df,
        Seq("key"), Seq(("score", true), ("id", false)), 10)
      .collect().map(r => (r.getDouble(2), r.getLong(0)))
    assert(got.sortBy { case (s, id) => (-s, id) }.toSeq == got.toSeq)
  }
}
