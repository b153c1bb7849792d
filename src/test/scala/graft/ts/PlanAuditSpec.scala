package graft.ts

import graft.SparkSpec

/** Regression guard for the core scale property: an arbitrary feature
  * pipeline (lags + rollmean + trailing taylor + leads) must plan ONE
  * hash exchange and one sort — features are projections over a single
  * partition-sorted pass, at any feature count.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  test("trailing feature pipeline plans exactly one hash exchange") {
    val df = (for (g <- 0 until 4; t <- 0 until 100) yield (g, t, math.sin(t * 0.1) + g))
      .toDF("g", "t", "v")
    val res = Featurize.featurizeData(df, Seq("g"), Seq("t"), Seq(
      Featurize.Lag(Seq("v"), Seq(1, 2, 7)),
      Featurize.Rollmean(Seq("v"), Seq(5, 9)),
      Featurize.WindowedTaylorCoefs(Seq("v"), taylorDegree = 2, Seq(7), Seq("trailing"), Seq(None), fillEdges = true),
      Featurize.HorizonTargets(Seq("v"), Seq(3), "wide")))
    val plan = res.df.queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n${plan.take(1200)}")
    val windows = "(?m)^\\s*(?:\\+- )?Window ".r.findAllIn(plan).length
    assert(windows == 1, s"expected the fused feature block to plan ONE Window op, got $windows")
  }

  test("2-column lag+roll+taylor pipeline plans one exchange; centered taylors share ONE frame") {
    // r22 shape: the rolls/lags fold in their own frame aggregates
    // (first Window), the CENTERED taylors — whose branch select needs
    // pos/rpos — share ONE wrapped collect_list frame in a second
    // Window op that rides the SAME sort (still one hash exchange,
    // no extra shuffle or sort)
    val df = (for (g <- 0 until 4; t <- 0 until 60)
      yield (g, t, math.sin(t * 0.1) + g, math.cos(t * 0.2) - g))
      .toDF("g", "t", "v", "u")
    val res = Featurize.featurizeData(df, Seq("g"), Seq("t"), Seq(
      Featurize.Lag(Seq("v", "u"), Seq(1, 3)),
      Featurize.Rollmean(Seq("v", "u"), Seq(5, 9)),
      Featurize.WindowedTaylorCoefs(Seq("v", "u"), taylorDegree = 1, Seq(9), Seq("centered"), Seq(None), fillEdges = true),
      Featurize.HorizonTargets(Seq("v"), Seq(2), "wide")))
    val plan = res.df.queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n${plan.take(1200)}")
    val windows = "(?m)^\\s*(?:\\+- )?Window ".r.findAllIn(plan).length
    assert(windows <= 2, s"expected at most TWO Window ops (roll aggs + taylor frame), got $windows")
    // both centered taylor columns share ONE wrapped frame; the rolls
    // plan zero frame arrays
    val collects = "collect_list".r.findAllIn(plan).length
    assert(collects == 1, s"expected ONE shared collect_list frame, got $collects:\n${plan.take(2000)}")
    val aggs = "multirollagg".r.findAllIn(plan).length
    assert(aggs == 4, s"expected 4 roll fold aggregates, got $aggs")
  }

  test("one path per frame kernel: trailing rolls/taylor plan no collector frame; centered taylor plans one") {
    // trailing roll and taylor features fold inside their own window
    // aggregates; only ts_pipeline_full's CENTERED taylor (branch select
    // on pos/rpos) still collects a DoubleFrameCollect frame. Counted as
    // DISTINCT window expressions: the taylor kernel reads its frame once
    // per coefficient, and Spark plans each read as its own (identical)
    // window expression.
    def frames(q: String): Set[String] = {
      val plan = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      spark.catalog.clearCache()
      "doubleframecollect\\([^)]*\\) windowspecdefinition\\([^)]*\\)\\)".r
        .findAllIn(plan).map(_.replaceAll("#\\d+", "#")).toSet
    }
    for (q <- Seq("ts_rollmean", "ts_taylor_trailing"))
      assert(frames(q).isEmpty, s"$q must plan no collector frame: ${frames(q)}")
    val full = frames("ts_pipeline_full")
    assert(full.size == 1, s"ts_pipeline_full must plan ONE collector frame: $full")
    assert(full.head.contains("specifiedwindowframe(RowFrame, -4, 4)"),
      s"the one frame is the centered taylor's: $full")
  }

  test("expanding OLS trend plans exactly one hash exchange (prefix sums share the sort)") {
    val df = (for (g <- 0 until 4; t <- 0 until 50) yield (g, t, math.sin(t * 0.1) + g))
      .toDF("g", "t", "v")
    val res = TimeOps.expandingTrend(df, "v", Seq("g"), Seq("t"))
    val plan = res.queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n${plan.take(1200)}")
    val sorts = "(?m)^\\s*(?:\\+- )?\\*?\\(?\\d*\\)? ?Sort ".r.findAllIn(plan).length
    assert(sorts <= 1, s"expected the row_number and cumulative stages to share one sort, got $sorts")
  }

  test("long-layout horizon targets plan one exchange + one sort at any horizon count") {
    val df = (for (g <- 0 until 4; t <- 0 until 100) yield (g, t, math.sin(t * 0.1) + g))
      .toDF("g", "t", "v")
    val res = Featurize.horizonTargets(df, Seq("v"), Seq("g"), Seq("t"), Seq(1, 2, 3, 7, 14), "long")
    val plan = res.df.queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n${plan.take(1200)}")
    val sorts = "(?m)^\\s*(?:\\+- )?\\*?\\(?\\d*\\)?\\s*Sort ".r.findAllIn(plan).length
    assert(sorts <= 1, s"expected <=1 sort, got $sorts:\n${plan.take(1200)}")
    // 5 horizons × every row
    assert(res.df.count() == df.count() * 5)
  }

  test("cusum and brownSmoothing plan exactly one exchange (the key repartition)") {
    val df = (for (g <- 0 until 4; t <- 0 until 50) yield (g, t.toLong, t * 1.0)).toDF("g", "t", "v")
    for (
      op <- Seq(
        TimeOps.cusum(df, "v", Seq("g"), Seq("t"), 0.0, 0.5, 10.0),
        TimeOps.brownSmoothing(df, "v", Seq("g"), Seq("t"), alpha = 0.3))
    ) {
      val plan = op.queryExecution.executedPlan.toString
      val exchanges = "Exchange ".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${plan.take(1200)}")
    }
  }

  test("ohlc-style groupBy candles plan ONE exchange with map-side partial aggregation") {
    import org.apache.spark.sql.functions._
    val df = (for (g <- 0 until 4; t <- 0 until 200) yield (g.toLong, t.toLong, t * 1.0))
      .toDF("user_id", "ts_us", "value")
    val plan = df.groupBy(col("user_id"))
      .agg(min_by(col("value"), col("ts_us")).as("open"),
        max("value").as("high"), min("value").as("low"),
        max_by(col("value"), col("ts_us")).as("close"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${plan.take(1000)}")
    assert(plan.contains("partial_"), s"partial aggregation must run map-side:\n${plan.take(1000)}")
  }

  test("sketched top-terms broadcasts the candidate set (no vocabulary shuffle join)") {
    val docs = (0 until 50).map(i => (i.toLong, s"alpha beta gamma w$i")).toDF("doc_id", "text")
    val plan = graft.functions.Sketch.topTermsSketched(docs, "text", k = 3, capacity = 32)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"candidate semi-join must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the term stream must not shuffle into a sort-merge join:\n${plan.take(1500)}")
  }

  test("ts_anomaly plans NO percentile window (bounded histogram threshold) and reuses the decompose exchange") {
    // The median/MAD threshold rides the bounded integer-histogram
    // rank picks: nothing in the plan may buffer every remainder in a
    // per-key percentile evaluator. The plan replicates the decompose
    // subtree under the histogram branch and the scoring branch —
    // assert the replicas dedup into reused exchanges/stages at
    // execution, so the decompose shuffle runs once.
    val df = graft.SparkEntry.queries("ts_anomaly")(spark, "/root/testdata/sf0.001")
    val before = df.queryExecution.executedPlan.toString
    assert(!before.toLowerCase.contains("percentile"),
      s"bounded route must not plan a percentile agg:\n${before.take(2000)}")
    df.collect() // materialize THIS query execution so AQE finalizes stage reuse
    val after = df.queryExecution.executedPlan.toString
    // the decompose handoff is persisted (pipeline_e2e precedent), so
    // both threshold consumers read the SAME InMemoryTableScan; accept
    // exchange/stage reuse markers as the alternative evidence should
    // the persist ever be dropped
    assert(after.contains("InMemoryTableScan") || after.contains("ReusedExchange") ||
      after.contains("ReusedQueryStage") || after.contains("reused"),
      s"decompose replicas must dedup via cache or exchange/stage reuse:\n${after.take(3000)}")
    // the query registered its decompose persist with the shared
    // session's cache manager; leaking it would rewrite OTHER specs'
    // planned shapes (the budget sweep counts nodes from plan strings,
    // and a substituted InMemoryRelation embeds its child plan text)
    spark.catalog.clearCache()
  }
}
