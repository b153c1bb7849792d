package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the doGenCode wiring of the hot kernels: (a) the generated code
  * really contains the `graft.plans.KernelRuntime` static calls (i.e.
  * the kernels sit INSIDE whole-stage codegen, not on the interpreted
  * CodegenFallback path), and (b) codegen-only results are bit-equal to
  * interpreted (NO_CODEGEN) results — both paths call the same
  * KernelRuntime body, so any divergence means the glue is wrong.
  *
  * `factoryMode=CODEGEN_ONLY` + `codegen.fallback=false` make a janino
  * compile failure a hard test failure rather than a silent fallback.
  * The frame-fold window aggregates (the stl/rollTheilSen case) run
  * imperatively inside WindowExec and never appear in generated code;
  * that case pins the codegen mode around them leaving results intact.
  */
class CodegenWiringSpec extends SparkSpec {
  import spark.implicits._

  private def withCodegen[T](mode: String)(f: => T): T = {
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try f
    finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  private def toksDf: DataFrame =
    Seq((1, Seq("the", "quick", "brown", "fox", "jumps", "the", "quick")),
      (2, Seq("a", "b")), (3, Seq.empty[String]))
      .toDF("id", "toks")
      .union(Seq((4, null.asInstanceOf[Seq[String]])).toDF("id", "toks"))
      // break ConvertToLocalRelation so the project is a real codegen stage
      .repartition(2)

  private val mod = (1L << 60) - 1

  private def textQuery: DataFrame = toksDf.select(
    $"id",
    TextHashKernels.shingleHash60($"toks", 3, mod).as("sh"),
    TextHashKernels.tokenHash60($"toks", mod).as("th"),
    TextHashKernels.fingerprint($"toks", mod).as("fp"),
    TextHashKernels.tokenEntropy($"toks").as("ent"))

  private def normQuery: DataFrame =
    Seq((1, "Hello, WORLD!  42"), (2, "  déjà vu Ünïcode  "), (3, ""), (4, "___"))
      .toDF("id", "txt")
      .union(Seq((5, null.asInstanceOf[String])).toDF("id", "txt"))
      .repartition(2)
      .select($"id", NormalizeKernel.normalize($"txt").as("norm"),
        NormalizeKernel.tokens($"txt").as("toks"))

  // taylor over grouped series: trailing fillEdges=false exercises the
  // null-result path (rows outside every branch), centered the rpos
  // branches — both must run as KernelRuntime.taylor inside codegen
  private def taylorQuery: DataFrame = {
    val d = (for (g <- 0 until 3; t <- 0 until 25)
      yield (g, t, math.sin(t * 0.4) + g)).toDF("g", "t", "v").repartition(2)
    val r1 = graft.ts.Taylor.windowedTaylorCoefs(d, Seq("v"), Seq("g"), Seq("t"),
      taylorDegree = 2, Seq(7), Seq("trailing"), Seq(None), fillEdges = false)
    val r2 = graft.ts.Taylor.windowedTaylorCoefs(r1.df, Seq("v"), Seq("g"), Seq("t"),
      taylorDegree = 1, Seq(9), Seq("centered"), Seq(None), fillEdges = true)
    r2.df
  }

  // the dedup/ANN signature kernels: minhash perms, simhash, cosine,
  // LSH bucket, nearest-centroid (both metrics) — null/empty/mismatch
  // rows exercise every null-glue branch
  private def hashQuery: DataFrame = {
    val planes = Seq(Array(0.5, -0.25, 0.125), Array(-1.0, 0.75, 0.5))
    val cents = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val d = Seq(
      (1, Seq(11L, 22L, 33L), Seq(1.0f, 2.0f, 3.0f), Seq(0.5f, 0.25f, -1.0f)),
      (2, Seq(7L), Seq(-1.0f, 0.5f, 0.0f), Seq(1.0f, 1.0f)), // vb shorter → cos NULL
      (3, Seq.empty[Long], Seq(0.0f, 0.0f, 1.0f), Seq(0.0f, 1.0f, 0.0f))) // empty hashes → mh NULL
      .toDF("id", "hs", "va", "vb")
      .union(Seq((4, null.asInstanceOf[Seq[Long]], null.asInstanceOf[Seq[Float]], Seq(1.0f, 0.0f, 0.0f)))
        .toDF("id", "hs", "va", "vb")) // null vector → bucket 0, centroid NULL
      .repartition(2)
    d.select($"id",
      HashExpressions.minhashPerms($"hs", Seq((3L, 1L), (5L, 2L)), mod).as("mh"),
      HashExpressions.simhash32($"hs").as("sh"),
      HashExpressions.cosineSim($"va", $"vb").as("cos"),
      HashExpressions.lshBucket($"va", planes).as("bk"),
      HashExpressions.nearestCentroid($"va", cents).as("nc"),
      HashExpressions.nearestCentroidL2($"va", cents).as("ncl2"))
  }

  // the STL loess + rolling Theil-Sen frame-fold aggregates over their
  // real bounded sliding frames; series short enough that edge (null)
  // rows exist
  private def stlQuery: DataFrame = {
    val q = 3
    val d = (for (g <- 0 until 2; t <- 0 until 15)
      yield (g, t.toLong, math.sin(t * 0.4) + 2.0 * t + g)).toDF("g", "t", "v")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("t").rowsBetween(-q, q)
    val winT = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("t").rowsBetween(-4, 0)
    val wt = graft.ts.Stl.tricube(q)
    val w0 = (-q to q).map(i => wt(i + q)).toArray
    val w1 = (-q to q).map(i => wt(i + q) * i).toArray
    val w2 = (-q to q).map(i => wt(i + q) * i * i).toArray
    d.select($"g", $"t",
      FrameAggKernels.conv($"v", graft.ts.Stl.pass1Coefs(q).toArray).over(win).as("conv"),
      FrameAggKernels.loessFit(lit(1.0), $"v", w0, w1, w2).over(win).as("fit"),
      FrameAggKernels.rollTheilSen($"t".cast("double"), $"v".cast("double"), 5)
        .over(winT).as("sen"))
  }

  test("generated code calls KernelRuntime (kernels are inside codegen)") {
    // AQE wraps the un-executed plan in AdaptiveSparkPlanExec, which hides
    // the codegen subtrees from codegenString — turn it off for the pin.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val gen = org.apache.spark.sql.execution.debug.codegenString(
        textQuery.queryExecution.executedPlan)
      for (m <- Seq("KernelRuntime.shingleHash60", "KernelRuntime.tokenHash60",
        "KernelRuntime.fingerprint", "KernelRuntime.tokenEntropy"))
        assert(gen.contains(s"graft.plans.$m"), s"generated code lacks $m")
      val genTay = org.apache.spark.sql.execution.debug.codegenString(
        taylorQuery.queryExecution.executedPlan)
      assert(genTay.contains("graft.plans.KernelRuntime.taylor"),
        "generated code lacks KernelRuntime.taylor")
      val genNorm = org.apache.spark.sql.execution.debug.codegenString(
        normQuery.queryExecution.executedPlan)
      for (m <- Seq("KernelRuntime.normalizeText", "KernelRuntime.tokenizeText"))
        assert(genNorm.contains(s"graft.plans.$m"), s"generated code lacks $m")
      val genHash = org.apache.spark.sql.execution.debug.codegenString(
        hashQuery.queryExecution.executedPlan)
      for (m <- Seq("KernelRuntime.minhashPerms", "KernelRuntime.simhash32",
        "KernelRuntime.cosineSim", "KernelRuntime.lshBucket", "KernelRuntime.nearestCentroid"))
        assert(genHash.contains(s"graft.plans.$m"), s"generated code lacks $m")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("stl/rollTheilSen kernels: CODEGEN_ONLY equals NO_CODEGEN (incl. edge null rows)") {
    val a = withCodegen("CODEGEN_ONLY")(stlQuery.orderBy("g", "t").collect().toSeq)
    val b = withCodegen("NO_CODEGEN")(stlQuery.orderBy("g", "t").collect().toSeq)
    assert(a == b)
    assert(a.exists(_.isNullAt(2)) && a.exists(!_.isNullAt(2)), "conv edge + interior rows")
    assert(a.exists(_.isNullAt(3)) && a.exists(!_.isNullAt(3)), "fit edge + interior rows")
    assert(a.exists(_.isNullAt(4)) && a.exists(!_.isNullAt(4)), "sen warmup + full rows")
  }

  test("hash kernels: CODEGEN_ONLY equals NO_CODEGEN (incl. null/empty/mismatch rows)") {
    val a = withCodegen("CODEGEN_ONLY")(hashQuery.orderBy("id").collect().toSeq)
    val b = withCodegen("NO_CODEGEN")(hashQuery.orderBy("id").collect().toSeq)
    assert(a == b)
    val byId = a.map(r => r.getInt(0) -> r).toMap
    assert(byId(2).isNullAt(3), "length-mismatch cosine must be NULL")
    assert(byId(3).isNullAt(1), "empty-hash minhash must be NULL")
    assert(byId(4).getLong(4) == 0L, "null vector must bucket to 0")
    assert(byId(4).isNullAt(5), "null vector centroid must be NULL")
  }

  test("normalize/tokens: CODEGEN_ONLY equals NO_CODEGEN (incl. unicode/empty/null rows)") {
    val a = withCodegen("CODEGEN_ONLY")(normQuery.orderBy("id").collect().toSeq)
    val b = withCodegen("NO_CODEGEN")(normQuery.orderBy("id").collect().toSeq)
    assert(a == b)
    assert(a.exists(_.isNullAt(1)), "null text row must stay null")
  }

  test("taylor: CODEGEN_ONLY equals NO_CODEGEN (incl. fillEdges=false null rows)") {
    val a = withCodegen("CODEGEN_ONLY")(taylorQuery.orderBy("g", "t").collect().toSeq)
    val b = withCodegen("NO_CODEGEN")(taylorQuery.orderBy("g", "t").collect().toSeq)
    assert(a == b)
    // the trailing fillEdges=false family must really null its edge rows
    assert(a.exists(_.isNullAt(3)), "expected null taylor coefs on edge rows")
  }

  test("text kernels: CODEGEN_ONLY equals NO_CODEGEN (incl. null/empty rows)") {
    val a = withCodegen("CODEGEN_ONLY")(textQuery.orderBy("id").collect().toSeq)
    val b = withCodegen("NO_CODEGEN")(textQuery.orderBy("id").collect().toSeq)
    assert(a == b)
    assert(a.exists(_.isNullAt(1)), "null toks row must stay null")
  }
}
