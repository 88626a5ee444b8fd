package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Records the surface check's reference fingerprints: every pinned query
  * on every corpus variant, twice each under two parallelism settings. A
  * query whose fingerprint differs between those four runs is recorded as
  * count-only (`*`).
  */
object Fingerprints {
  private val Settings = Seq((4, 4), (2, 3)) // (cores, shuffle partitions)

  def record(work: Path, outFile: Path): Unit = {
    val registry = Surface.registry
    val lines = (0 until Surface.Variants).flatMap { v =>
      val dir = work.resolve("fixtures").resolve(s"corpus-v$v").toAbsolutePath
      val runs = Settings.flatMap { case (nCores, parts) =>
        val spark = Main.session(work, nCores, parts)
        try {
          Surface.ensureCorpus(spark, dir, v)
          (1 to 2).map { _ =>
            Surface.Pinned.map { n =>
              graft.operators.ArtifactCache.invalidateAll()
              n -> Surface.fingerprint(registry(n)._2(spark, dir.toString).collect())
            }.toMap
          }
        } finally spark.stop()
      }
      Surface.Pinned.map { n =>
        val fps = runs.map(_(n)).distinct
        val hash = if (fps.size == 1) fps.head._2.toString else "*"
        System.err.println(s"[fingerprints] v$v $n rows=${fps.map(_._1).mkString("/")} " +
          (if (fps.size == 1) "stable" else s"UNSTABLE (${fps.size} distinct)"))
        s"$v\t$n\t${fps.head._1}\t$hash"
      }
    }
    Files.write(outFile, (Seq("# variant\tquery\trows\trow hash (* = count only)") ++ lines).asJava)
  }
}
