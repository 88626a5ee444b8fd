package perfbench

import scala.collection.immutable.ListMap

import graft.operators.ArtifactCache.ArtifactStats

/** Per-layer metrics of a traced run, computed from its spans. Every metric
  * is reported on every workload; a layer a workload does not reach reads 0.
  * Values are medians over operations (flagship) or over passes (surface).
  */
object PerLayer {

  /** Query modules of the pinned surface list. */
  val Modules: Seq[String] = Seq("RelationalOps", "TextOps", "Similarity", "Clustering")

  /** name -> (unit, better). */
  val Metrics: ListMap[String, (String, String)] = ListMap(
    "api.plan_s" -> ("s", "lower"),
    "api.jobs" -> ("count", "lower"),
    "api.stages" -> ("count", "lower"),
    "api.tasks" -> ("count", "lower"),
    "ingest.values_s" -> ("s", "lower"),
    "ingest.archives" -> ("count", "lower"),
    "ingest.members" -> ("count", "lower"),
    "ingest.window_cells" -> ("count", "lower"),
    "ingest.input_mb" -> ("MB", "lower"),
    "ingest.task_busy_frac" -> ("ratio", "higher"),
    "ingest.decode_mb_per_s" -> ("MB/s", "higher"),
    "geo.cellmap_s" -> ("s", "lower"),
    "geo.cellmap_rows" -> ("count", "lower"),
    "geo.pairs_per_s" -> ("1/s", "higher"),
    "geo.reproject_s" -> ("s", "lower"),
    "core.series_s" -> ("s", "lower"),
    "core.joined_rows" -> ("count", "lower"),
    "core.series_rows" -> ("count", "lower"),
    "core.shuffle_write_mb" -> ("MB", "lower"),
    "core.spill_mb" -> ("MB", "lower"),
    "out.sink_s" -> ("s", "lower"),
    "out.files" -> ("count", "lower"),
    "out.bytes" -> ("bytes", "lower"),
    "out.files_per_s" -> ("1/s", "higher"),
    "ops.construct_s" -> ("s", "lower"),
    "ops.exec_s" -> ("s", "lower")) ++
    Modules.map(m => s"ops.$m.exec_s" -> ("s", "lower")) ++ ListMap(
    "ops.jobs" -> ("count", "lower"),
    "ops.stages" -> ("count", "lower"),
    "ops.tasks" -> ("count", "lower"),
    "ops.shuffle_mb" -> ("MB", "lower"),
    "ops.spill_mb" -> ("MB", "lower"),
    "artifact.builds" -> ("count", "lower"),
    "artifact.hits" -> ("count", "higher"),
    "artifact.hit_ratio" -> ("ratio", "higher"),
    "artifact.build_s" -> ("s", "lower"),
    "tables.input_mb" -> ("MB", "lower"),
    "cpu_util" -> ("ratio", "higher"),
    "gc_s" -> ("s", "lower"),
    "trace.overhead_s" -> ("s", "lower"))

  /** Layer of a span, for self-time totals. */
  def layerOf(span: String): String = span.takeWhile(_ != '.') match {
    case "query" => "ops"
    case other => other
  }

  private def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  def compute(tr: Tracer, surface: Boolean, fx: Option[RadolanFixture.Fixture], cores: Int,
      artifactSnaps: Seq[Map[String, ArtifactStats]], moduleOf: Map[String, String]): ListMap[String, Double] = {
    val spans = tr.all
    val by = spans.groupBy(_.name).withDefaultValue(Seq.empty)
    def attr(s: Tracer.Span, k: String) = s.attrs.getOrElse(k, 0.0)
    def medDur(n: String) = med(by(n).map(_.dur))
    def medAttr(n: String, k: String) = med(by(n).map(attr(_, k)))
    def rate(n: String, k: String) = med(by(n).filter(_.dur > 0).map(s => attr(s, k) / s.dur))
    val zero = Metrics.map { case (k, _) => k -> 0.0 }
    // top-level operation spans: one per pipeline call or per query
    val ops = spans.filter(s => s.name == "op" || s.name.startsWith("query."))
    val common = ListMap(
      "cpu_util" -> { val wall = ops.map(_.dur).sum; if (wall > 0) ops.map(attr(_, "cpu_s")).sum / (wall * cores) else 0.0 },
      "gc_s" -> med(ops.map(attr(_, "gc_s"))))
    if (!surface) {
      val f = fx.get
      zero ++ common ++ ListMap(
        "api.plan_s" -> medDur("api.run"),
        "api.jobs" -> medAttr("op", "jobs"),
        "api.stages" -> medAttr("op", "stages"),
        "api.tasks" -> medAttr("op", "tasks"),
        "ingest.values_s" -> medDur("ingest.values"),
        "ingest.archives" -> f.archives.toDouble,
        "ingest.members" -> f.grids.toDouble,
        "ingest.window_cells" -> medAttr("ingest.values", "rows") / f.grids,
        "ingest.input_mb" -> medAttr("ingest.values", "input_mb"),
        "ingest.task_busy_frac" -> med(by("ingest.values").filter(_.dur > 0)
          .map(s => attr(s, "task_busy_s") / (s.dur * cores))),
        "ingest.decode_mb_per_s" -> rate("ingest.decode", "decoded_mb"),
        "geo.cellmap_s" -> medDur("geo.cellmap"),
        "geo.cellmap_rows" -> medAttr("geo.cellmap", "rows"),
        "geo.pairs_per_s" -> rate("geo.cellmap", "rows"),
        "geo.reproject_s" -> medDur("geo.reproject"),
        "core.series_s" -> medDur("core.series"),
        "core.joined_rows" -> medAttr("core.series", "joined_rows"),
        "core.series_rows" -> medAttr("core.series", "rows"),
        "core.shuffle_write_mb" -> medAttr("core.series", "shuffle_write_mb"),
        "core.spill_mb" -> medAttr("core.series", "spill_mb"),
        "out.sink_s" -> medDur("out.sink"),
        "out.files" -> medAttr("out.sink", "files"),
        "out.bytes" -> medAttr("out.sink", "bytes"),
        "out.files_per_s" -> rate("out.sink", "files"))
    } else {
      val n = moduleOf.size
      val queryOf = spans.filter(_.name.startsWith("query.")).map(s => s.id -> s.name.stripPrefix("query.")).toMap
      // queries are numbered from 1 in pass order, n to a pass
      def passOf(s: Tracer.Span) = (s.op - 1) / n
      val passes = spans.groupBy(passOf).toSeq.sortBy(_._1).map(_._2)
      def perPass(f: Seq[Tracer.Span] => Double) = med(passes.map(f))
      def sum(ss: Seq[Tracer.Span], name: String => Boolean, k: Option[String]) =
        ss.filter(s => name(s.name)).map(s => k.fold(s.dur)(attr(s, _))).sum
      val isQuery = (s: String) => s.startsWith("query.")
      val deltas = artifactSnaps.sliding(2).collect { case Seq(before, after) =>
        val d = after.toSeq.map { case (k, v) =>
          val b = before.getOrElse(k, ArtifactStats(0, 0, 0))
          (v.builds - b.builds, v.hits - b.hits, v.buildMillis - b.buildMillis)
        }
        (d.map(_._1).sum.toDouble, d.map(_._2).sum.toDouble, d.map(_._3).sum / 1e3)
      }.toSeq
      zero ++ common ++ ListMap(
        "ops.construct_s" -> perPass(sum(_, _ == "ops.construct", None)),
        "ops.exec_s" -> perPass(sum(_, _ == "ops.exec", None))) ++
        Modules.map(m => s"ops.$m.exec_s" -> perPass(ss => ss.filter(s => s.name == "ops.exec" &&
          queryOf.get(s.parent).flatMap(moduleOf.get).contains(m)).map(_.dur).sum)) ++ ListMap(
        "ops.jobs" -> perPass(sum(_, isQuery, Some("jobs"))),
        "ops.stages" -> perPass(sum(_, isQuery, Some("stages"))),
        "ops.tasks" -> perPass(sum(_, isQuery, Some("tasks"))),
        "ops.shuffle_mb" -> perPass(sum(_, isQuery, Some("shuffle_write_mb"))),
        "ops.spill_mb" -> perPass(sum(_, isQuery, Some("spill_mb"))),
        "artifact.builds" -> med(deltas.map(_._1)),
        "artifact.hits" -> med(deltas.map(_._2)),
        "artifact.hit_ratio" -> med(deltas.filter(d => d._1 + d._2 > 0).map(d => d._2 / (d._1 + d._2))),
        "artifact.build_s" -> med(deltas.map(_._3)),
        "tables.input_mb" -> perPass(sum(_, isQuery, Some("input_mb"))))
    }
  }

  def withUnits(values: ListMap[String, Double]): ListMap[String, Any] =
    Metrics.map { case (k, (unit, _)) => k -> ListMap("value" -> values.getOrElse(k, 0.0), "unit" -> unit) }
}
