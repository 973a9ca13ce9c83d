package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlainSessionBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecMath

/** The one registration path: the shared test session is built by
  * [[GraftSession.builder]], so these specs see exactly what the
  * extension hook installs at session construction;
  * [[GraftExtensions.setup]] is checked on a session built without it.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val functionIds =
    Seq("simhash32", "minhash32", "dot_d", "norm_d").map(FunctionIdentifier(_))

  test("injects the as-of join planner strategy") {
    assert(spark.sessionState.planner.extraPlanningStrategies
      .contains(graft.plans.AsofJoinStrategy))
  }

  test("injected SQL functions work end-to-end and match the columnar twins") {
    val vf = Array(0.5f, -1.25f, 3.1f)
    val vd = Array(2.0, 0.125, -4.3)
    val df = Seq((1L, Seq("alpha", "bravo", "charlie"), vf.toSeq, vd.toSeq))
      .toDF("id", "toks", "vf", "vd")
    df.createOrReplaceTempView("ext_toks")
    val viaSql = spark.sql(
      """SELECT simhash32(toks) AS sh, minhash32(toks, 4) AS mh,
        |  dot_d(vf, vd) AS dot, norm_d(vf) AS nf, norm_d(vd) AS nd,
        |  dot_d(vf, array(1.0D)) AS dot_mismatch
        |FROM ext_toks""".stripMargin).head()
    val viaCols = df.select(
      graft.functions.TextFunctions.simhash32Col(col("toks")).as("sh"),
      graft.functions.TextFunctions.minhashSignature(col("toks"), 4).as("mh")).head()
    assert(viaSql.getLong(0) == viaCols.getLong(0))
    assert(viaSql.getSeq[String](1) == viaCols.getSeq[String](1))
    // the vector folds equal VecMath's kernels bit for bit; a length
    // mismatch is NULL (zip_with padding)
    val (af, ad) = (ArrayData.toArrayData(vf), ArrayData.toArrayData(vd))
    assert(viaSql.getDouble(2) == VecMath.dotKernel(af, true, ad, false).doubleValue)
    assert(viaSql.getDouble(3) == VecMath.normKernel(af, true).doubleValue)
    assert(viaSql.getDouble(4) == VecMath.normKernel(ad, false).doubleValue)
    assert(viaSql.isNullAt(5))
  }

  test("minhash32 k accepts foldable integrals (BIGINT cast, arithmetic), rejects non-foldable") {
    Seq((2L, Seq("a", "b"))).toDF("id", "toks").createOrReplaceTempView("ext_toks2")
    val r = spark.sql(
      "SELECT minhash32(toks, CAST(4 AS BIGINT)) AS mh, minhash32(toks, 2 + 2) AS mh2 FROM ext_toks2").head()
    assert(r.getSeq[String](0).length == 4)
    assert(r.getSeq[String](1).length == 4)
    val e = intercept[Exception] {
      spark.sql("SELECT minhash32(toks, CAST(id AS INT)) AS mh FROM ext_toks2").collect()
    }
    assert(e.getMessage.contains("foldable") ||
      Option(e.getCause).exists(_.getMessage.contains("foldable")))
  }

  test("setup restores dropped functions, the strategy and SQL defaults; a second call changes nothing") {
    val excluded = "spark.sql.optimizer.excludedRules"
    val listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val tz = "spark.sql.session.timeZone"
    // a caller-built session: no extensions; two defaults unset, one
    // key set to the caller's own value
    val plain = PlainSessionBridge.plainSession(spark)
    plain.conf.unset(excluded)
    plain.conf.unset(listing)
    assert(plain.conf.get(listing) == "32")
    plain.conf.set(tz, "America/New_York")
    functionIds.foreach(f => plain.sessionState.functionRegistry.dropFunction(f))
    // an engine session whose functions were dropped
    val dropped = spark.newSession()
    functionIds.foreach(f => dropped.sessionState.functionRegistry.dropFunction(f))

    Seq(plain, dropped).foreach { s =>
      assert(!functionIds.exists(s.sessionState.functionRegistry.functionExists))
      GraftExtensions.setup(s)
      functionIds.foreach(f =>
        assert(s.sessionState.functionRegistry.functionExists(f), s"$f not restored"))
      assert(s.sessionState.planner.strategies
        .count(_ == graft.plans.AsofJoinStrategy) == 1)
      def snapshot = (s.experimental.extraStrategies,
        s.sessionState.functionRegistry.listFunction().size, s.conf.getAll)
      val once = snapshot
      GraftExtensions.setup(s)
      assert(snapshot == once)
    }
    assert(plain.conf.get(excluded) ==
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    assert(plain.conf.get(listing) == Int.MaxValue.toString)
    assert(plain.conf.get(tz) == "America/New_York")
    assert(plain.sql(
      "SELECT dot_d(array(1.0D, 2.0D), array(3.0D, 4.0D)), norm_d(array(3.0D, 4.0D))")
      .head().toSeq == Seq(11.0, 5.0))
  }

  test("localCpus: SPARK_GRAFT_CPUS wins, else the host's cores capped at 16") {
    assert(GraftSession.localCpus(Map("SPARK_GRAFT_CPUS" -> "7"), cores = 64) == "7")
    assert(GraftSession.localCpus(Map.empty, cores = 4) == "4")
    assert(GraftSession.localCpus(Map.empty, cores = 16) == "16")
    assert(GraftSession.localCpus(Map.empty, cores = 64) == "16")
  }

  test("GraftSession.builder is the only session builder under src/") {
    import scala.jdk.CollectionConverters._
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val (home, others) = sources.partition(_.getFileName.toString == "GraftSession.scala")
    def calls(p: java.nio.file.Path) =
      builderCall.findAllIn(java.nio.file.Files.readString(p)).size
    assert(home.map(calls).sum == 1)
    val offenders = others.filter(calls(_) > 0)
    assert(offenders.isEmpty, s"session builders outside GraftSession: ${offenders.mkString(", ")}")
  }
}
