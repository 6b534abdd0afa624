package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One workload's life in a run: set up (several times; the last set-up
  * is the one measured), warm up, measure, then verify.
  */
trait Workload {
  /** Build fresh inputs and state; `last` is the set-up the run measures. */
  def prepare(rep: Int, last: Boolean): Unit
  /** Exercise every timed operation once so no timed sample pays JIT,
    * codegen or first-commit costs.
    */
  def warm(): Unit
  def measure(seconds: Int): Unit
  /** Untimed checks of the final state, plus traced-only layer probes. */
  def verify(): Unit
  /** Workload-specific raw records for the statistics. */
  def record: Map[String, Any]
  def close(): Unit = ()
}

/** Entry point of the JVM side: runs one workload and writes the raw
  * record (samples, progress, spans, checks) as JSON for `run.py`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <file>
  * }}}
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.gcat", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.gcat.warehouse", s"$work/catalog")
      .config("spark.sql.streaming.stopTimeout", "30s")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionStart = (System.nanoTime() - t0) / 1e9

    val rec = new Recorder(spark, traced)
    rec.install()
    val wl: Workload = workload match {
      case "table_mix" => new TableMix(spark, rec, work, seed)
      case "canon_scaled" => new CanonScaled(spark, rec, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    try {
      val prepares = (1 to SetupReps).map(rep => rec.timedSteal(wl.prepare(rep, rep == SetupReps)))
      val warm = rec.timedSteal(wl.warm())

      // the machine's speed around the measured phase (see Calibration),
      // each time from a collected heap; the later one runs after verify()
      // has stopped every stream, so no program thread competes with it
      System.gc()
      Calibration.once(cores)
      val calibration = (1 to 2).map(_ => rec.timedSteal(Calibration.once(cores)))
      rec.startMeasure()
      wl.measure(seconds)
      rec.endMeasure()
      wl.verify()
      System.gc()
      Calibration.once(cores)
      val calibrationAfter = (1 to 2).map(_ => rec.timedSteal(Calibration.once(cores)))
      val calibrations = calibration ++ calibrationAfter

      val doc = rec.render(Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "cores" -> cores, "session_start_s" -> sessionStart,
        "prepare_s" -> prepares.map(_._1), "prepare_steal" -> prepares.map(_._2),
        "warm_s" -> warm._1, "warm_steal" -> warm._2,
        "calibration_s" -> calibrations.map(_._1),
        "calibration_steal" -> calibrations.map(_._2),
        "workload_record" -> wl.record))
      Files.write(Paths.get(opt("out")), doc.getBytes(StandardCharsets.UTF_8))
    } finally {
      wl.close()
      rec.uninstall()
      spark.stop()
    }
  }
}
