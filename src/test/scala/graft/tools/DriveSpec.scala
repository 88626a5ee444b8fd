package graft.tools

import java.io.ByteArrayOutputStream
import org.scalatest.funsuite.AnyFunSuite

/** The shared session recipe: a failing guarded run gives back no time and
  * one `failed` line, the query selection honours a regex or given names,
  * and the two session modes differ only where their callers need it. The
  * conf is checked as a list; no second session is built in the test JVM.
  */
class DriveSpec extends AnyFunSuite {

  private def stderrOf[A](body: => A): (A, String) = {
    val buf = new ByteArrayOutputStream()
    val a = Console.withErr(buf)(body)
    (a, buf.toString("UTF-8"))
  }

  test("a throwing body gives back no time and prints exactly one failed line") {
    val (t, err) = stderrOf(LongDrive.guarded("tag", "q_boom")(throw new IllegalStateException("boom")))
    assert(t.isEmpty)
    val lines = err.linesIterator.toSeq
    assert(lines == Seq("[tag] q_boom failed: java.lang.IllegalStateException: boom"), err)
  }

  test("a passing body gives back its time and prints nothing") {
    var ran = false
    val (t, err) = stderrOf(LongDrive.guarded("tag", "q_ok") { ran = true })
    assert(ran && t.exists(_ >= 0.0) && err.isEmpty, err)
  }

  test("the selection keeps the names the regex matches, all names without one, given names as given") {
    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    assert(LongDrive.select(only = None) == all)
    val q = LongDrive.select(only = Some("^q[12]_"))
    assert(q == Seq("q1_pricing_summary", "q2_revenue_by_nation"))
    assert(LongDrive.select(only = Some("^nothing$")).isEmpty)
    val given = Seq("j9_asof_join", "q2_revenue_by_nation")
    assert(LongDrive.select(given, only = Some("^q1_")) == given)
  }

  test("both modes pin UTC and nanosAsLong and differ only in codec, GC sweep and codegen cache") {
    val latency = LongDrive.conf(LongDrive.Latency, "4").toMap
    val longRun = LongDrive.conf(LongDrive.LongRun, "4").toMap
    for (c <- Seq(latency, longRun)) {
      assert(c("spark.sql.session.timeZone") == "UTC")
      assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(c("spark.sql.shuffle.partitions") == "4")
      assert(c("spark.ui.enabled") == "false")
    }
    val differing = (latency.keySet ++ longRun.keySet).filter(k => latency.get(k) != longRun.get(k))
    assert(differing == Set("spark.io.compression.codec", "spark.cleaner.periodicGC.interval",
      "spark.sql.codegen.cache.maxEntries"))
    assert(latency("spark.io.compression.codec") == "lz4")
    assert(latency("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(longRun("spark.io.compression.codec") == "zstd")
    assert(longRun("spark.cleaner.periodicGC.interval") == "5min")
  }
}
