package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Catalog

class GraftExtensionsSpec extends AnyFunSuite {

  /** Runs `f` on a new session built with [[GraftExtensions]]. */
  private def withExtensionSession(f: SparkSession => Unit): Unit = {
    // getOrCreate returns any existing session (ignoring extensions), so
    // clear the active/default first: a NEW SparkSession is built on the
    // same SparkContext with the extensions applied, then restored below
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try f(spark)
    finally {
      // do not stop (other suites share the SparkContext); restore the
      // previous default session so later suites see their own functions
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  private def ids = Catalog.entries.map(f => FunctionIdentifier(f.name))

  /** The registry's current ExpressionInfo per catalog name: a
    * re-registration replaces it with a new instance. */
  private def infos(spark: SparkSession) =
    ids.map(id => spark.sessionState.functionRegistry.lookupFunction(id).orNull)

  test("the catalog declares each function once") {
    assert(Catalog.entries.map(_.name).distinct.size == Catalog.entries.size)
  }

  test("every catalog function resolves in an extensions-built session, and Graft.setup adds nothing there") {
    withExtensionSession { spark =>
      val missing = ids.filterNot(spark.sessionState.functionRegistry.functionExists)
      assert(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
      val before = infos(spark)
      Graft.setup(spark)
      assert(infos(spark).zip(before).forall { case (a, b) => a eq b })
    }
  }

  test("every catalog function resolves after Graft.setup, and a second setup replaces nothing") {
    val spark = graft.core.TestSpark.spark
    Graft.setup(spark)
    val missing = ids.filterNot(spark.sessionState.functionRegistry.functionExists)
    assert(missing.isEmpty, s"not registered: ${missing.mkString(", ")}")
    val before = infos(spark)
    assert(before.forall(_ != null))
    Graft.setup(spark)
    val replaced = Catalog.entries.map(_.name).zip(infos(spark).zip(before))
      .collect { case (n, (a, b)) if !(a eq b) => n }
    assert(replaced.isEmpty, s"replaced: ${replaced.mkString(", ")}")
  }

  test("withExtensions installs graft_* functions for SQL use") {
    withExtensionSession { spark =>
      val dot = spark.sql("SELECT graft_dot(array(1D,2D,3D), array(4D,5D,6D)) AS d")
        .collect()(0).getDouble(0)
      assert(dot === 32.0)
      val h = spark.sql("SELECT graft_hash60('abc') AS h").collect()(0).getLong(0)
      assert(h > 0)
      val inter = spark.sql(
        "SELECT graft_sorted_intersect(array(1L,3L,5L), array(3L,4L,5L)) AS n")
        .collect()(0).getInt(0)
      assert(inter == 2)
      val sigs = spark.sql(
        "SELECT graft_minhash_sigs(array('abcde','bcdef')) AS s").collect()(0).getSeq[Long](0)
      assert(sigs.length == 8 && sigs.forall(_ >= 0))
      // geometry + aggregate expressions are injected too
      assert(spark.sql("SELECT st_area(array(array(0D,0D, 2D,0D, 2D,2D, 0D,2D))) AS a")
        .collect()(0).getDouble(0) === 4.0)
      assert(spark.sql(
        "SELECT graft_clip_areas(array(array(0D,0D, 2D,0D, 2D,2D, 0D,2D)), 1D, 0D, 3D, 2D, 'epsg:25833', 'epsg:25833').clip_area AS c")
        .collect()(0).getDouble(0) === 2.0)
      assert(spark.sql(
        "SELECT graft_simhash_agg(h) AS s FROM VALUES (1L), (3L) AS t(h)")
        .collect()(0).getLong(0) == 1L) // bit0: +2; bit1: 0 (tie -> 0); rest negative
    }
  }

  test("Graft.setup registers everything on an existing session") {
    val spark = graft.core.TestSpark.spark
    Graft.setup(spark)
    assert(spark.sql("SELECT st_area(array(array(0D,0D, 2D,0D, 2D,2D, 0D,2D))) AS a")
      .collect()(0).getDouble(0) === 4.0)
    assert(spark.sql("SELECT graft_dot(array(2D), array(3D)) AS d")
      .collect()(0).getDouble(0) === 6.0)
  }

  test("graft_vecsum_dec is exact and equals the explode + sum(decimal) form") {
    val spark = graft.core.TestSpark.spark
    Graft.setup(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doubles chosen so naive double summation WOULD drift with order
    val rows = (1 to 500).map(i => (i % 3, Array(0.1 * i, 1e10, -1e10 + 0.7 * i)))
    val df = rows.toDF("g", "v").repartition(7)
    val viaAgg = df.groupBy("g")
      .agg(expr("graft_vecsum_dec(transform(v, x -> CAST(x AS DECIMAL(28,14))))").as("s"))
      .select(col("g"), posexplode(col("s")).as(Seq("dim", "x")))
    val viaExplode = df
      .select(col("g"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("g", "dim")
      .agg(sum(col("x").cast("decimal(28,14)")).cast("double").as("x"))
    val a = viaAgg.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val b = viaExplode.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(a.size == 9 && a == b, "vector-sum aggregate must be bit-identical to the decimal explode form")
  }
}
