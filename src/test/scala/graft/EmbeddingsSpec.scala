package graft

import org.apache.spark.sql.functions._

import graft.operators.Embeddings

/** Embedding centroid analytics: the VectorSumAgg custom aggregate
  * (bit-equality vs the posexplode formulation across partitionings, loud
  * failure on malformed vectors), floor-division exactness on negatives,
  * hand-checked centroids/distances/outliers, and the broadcast scoring
  * plan. */
class EmbeddingsSpec extends SparkTestBase {
  import spark.implicits._

  private def vsum = (c: org.apache.spark.sql.Column) =>
    call_function(GraftFunctions.VectorSumName, c)

  test("VectorSumAgg == posexplode+sum, randomized, across partitionings; NULL arrays skipped") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 300).map { i =>
      val label = i % 5
      val arr = if (i % 37 == 0) null
        else Array.fill(8)(rnd.nextInt(2000000).toLong - 1000000L)
      (label, arr)
    }
    for (parts <- Seq(1, 3, 7)) {
      val df = rows.toDF("label", "v").repartition(parts)
      val viaAgg = df.groupBy("label").agg(vsum(col("v")).as("s"))
        .select(col("label"), posexplode(col("s")).as(Seq("dim", "sv")))
        .as[(Int, Int, Long)].collect().toSet
      val viaExplode = df.select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("label", "dim").agg(sum(col("x")).as("sv"))
        .as[(Int, Int, Long)].collect().toSet
      assert(viaAgg == viaExplode, s"parts=$parts")
    }
    // all-null group -> NULL result (like sum over no rows)
    val allNull = Seq((1, null: Array[Long])).toDF("label", "v")
      .groupBy("label").agg(vsum(col("v")).as("s"))
      .select(col("s").isNull).as[Boolean].head()
    assert(allNull, "group with only NULL arrays must yield NULL")
  }

  test("VectorSumAgg fails loudly on dimension mismatch, null slots, and fractional arrays") {
    val mismatch = Seq((1, Seq(1L, 2L)), (1, Seq(1L, 2L, 3L))).toDF("label", "v")
    val e1 = intercept[Exception] {
      mismatch.groupBy("label").agg(vsum(col("v"))).collect()
    }
    assert(e1.toString.contains("dimension mismatch") ||
      Option(e1.getCause).exists(_.toString.contains("dimension mismatch")))
    val nullSlot = Seq((1, Seq[java.lang.Long](1L, null))).toDF("label", "v")
    val e2 = intercept[Exception] {
      nullSlot.groupBy("label").agg(vsum(col("v"))).collect()
    }
    assert(e2.toString.contains("null element") ||
      Option(e2.getCause).exists(_.toString.contains("null element")))
    // ARRAY<DOUBLE> must fail analysis, not silently truncate
    val frac = Seq((1, Seq(1.5, 2.5))).toDF("label", "v")
    intercept[Exception] { frac.groupBy("label").agg(vsum(col("v"))).collect() }
  }

  test("SQL-text invocation of graft_vector_sum rejects fractional arrays (no silent truncation)") {
    val rnd = new scala.util.Random(3)
    Seq((1, Seq(1.5, 2.5)), (1, Seq(0.5, 0.25))).toDF("label", "v")
      .createOrReplaceTempView("vs_frac")
    // the builder leaves unresolved children UNCAST, so the expression's
    // own type check must fail the double array loudly after resolution
    val e = intercept[Exception] {
      spark.sql("SELECT label, graft_vector_sum(v) FROM vs_frac GROUP BY label").collect()
    }
    assert(e.getMessage.contains("ARRAY<BIGINT>") || e.getMessage.contains("graft_vector_sum"),
      s"expected a loud type failure, got: ${e.getMessage}")
    // the LONG-array SQL path still works and matches the DataFrame path
    Seq((1, Seq(1L, 2L)), (1, Seq(10L, 20L))).toDF("label", "v")
      .createOrReplaceTempView("vs_long")
    val got = spark.sql("SELECT graft_vector_sum(v) AS s FROM vs_long GROUP BY label")
      .as[Seq[Long]].collect().head
    assert(got == Seq(11L, 22L))
    rnd.nextInt() // keep rnd referenced
  }

  test("without GraftExtensions, graft_vector_sum over array<double> fails loudly") {
    // Session.ensure registers the native aggregate there, not a typed udaf
    // (whose implicit input cast would floor 1.5 to 1): both the DataFrame
    // and the SQL-text path must reject the fractional array
    val s = SparkTestBase.stripped()
    import s.implicits._
    val frac = Seq((1, Seq(1.5, 2.5))).toDF("label", "v")
    val e1 = intercept[Exception] { frac.groupBy("label").agg(vsum(col("v"))).collect() }
    assert(e1.getMessage.contains("expects ARRAY of integral"), e1.getMessage)
    frac.createOrReplaceTempView("vs_frac_stripped")
    val e2 = intercept[Exception] {
      s.sql("SELECT label, graft_vector_sum(v) FROM vs_frac_stripped GROUP BY label").collect()
    }
    assert(e2.getMessage.contains("ARRAY<BIGINT>") || e2.getMessage.contains("graft_vector_sum"),
      e2.getMessage)
    // integral arrays still sum there
    val got = Seq((1, Seq(1, 2)), (1, Seq(10, 20))).toDF("label", "v")
      .groupBy("label").agg(vsum(col("v"))).as[(Int, Seq[Long])].collect().head._2
    assert(got == Seq(11L, 22L))
  }

  test("fdiv floors like DuckDB // (negative numerators included)") {
    val got = Seq((-7L, 2L), (7L, 2L), (-8L, 2L), (0L, 3L), (-1L, 3L))
      .toDF("s", "n").select(Embeddings.fdiv(col("s"), col("n")).as("q"))
      .as[Long].collect().toSeq
    assert(got == Seq(-4L, 3L, -4L, 0L, -1L), s"$got")
  }

  test("centroids/distances/outliers: hand fixture") {
    // label 0: vectors (0,0) (1,1) (2,2) in float space -> µ-units
    // qsum = (3e6, 3e6), n = 3, mean = (1e6, 1e6)
    val df = Seq(
      (1L, 0, Array(0.0f, 0.0f)),
      (2L, 0, Array(1.0f, 1.0f)),
      (3L, 0, Array(2.0f, 2.0f)),
      (4L, 1, Array(-1.0f, 0.5f))
    ).toDF("vec_id", "label", "embedding")
    val cents = Embeddings.centroids(df, "label", "embedding")
      .select(col("label"), col("n"), col("mean_q"))
      .as[(Long, Long, Seq[Long])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(cents(0L) == ((3L, Seq(1000000L, 1000000L))))
    assert(cents(1L) == ((1L, Seq(-1000000L, 500000L))))
    val dists = Embeddings.centroidDistances(df, "vec_id", "label", "embedding")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val m = 1000000L
    assert(dists(1L) == 2 * m * m, "(0,0) vs (1e6,1e6)")
    assert(dists(2L) == 0L)
    assert(dists(3L) == 2 * m * m)
    assert(dists(4L) == 0L, "singleton label sits on its own centroid")
    val top = Embeddings.outliers(df, "vec_id", "label", "embedding", k = 1)
      .select("label", "vec_id").as[(Long, Long)].collect().toSet
    // dist tie between vec 1 and 3 at label 0 -> min vec_id wins rank 1
    assert(top == Set((0L, 1L), (1L, 4L)))
  }

  test("scoring plan: centroid table broadcasts into the distance pass") {
    val rnd = new scala.util.Random(5)
    val df = (1 to 200).map(i =>
      (i.toLong, i % 4, Array.fill(6)(rnd.nextFloat()))).toDF("vec_id", "label", "embedding")
    val plan = Embeddings.centroidDistances(df, "vec_id", "label", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid join must broadcast:\n$plan")
  }
}
