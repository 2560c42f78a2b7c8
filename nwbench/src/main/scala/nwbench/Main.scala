package nwbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up (timed, several times), warm-up,
  * then a closed loop of ops for the requested seconds, then the untimed
  * checks. Writes a JSON summary to `--out`; `run.py` turns it into the
  * benchmark's result line.
  *
  * With `--trace 1` the first `--trace-blocks` blocks of ops run untraced
  * and as many again run with the listeners registered; the per-layer
  * figures come from the traced ones, so the same seed gives the same
  * counts. */
object Main {
  private val SetupReps = 3
  private val cores = Runtime.getRuntime.availableProcessors()

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    val out = new File(a("out"))
    val spark = session(work)
    try {
      val wl: Workload = workload match {
        case "cdc_apply" => new CdcApply(spark, a("data"), work, seed)
        case "lake_reads" => new LakeReads(spark, a("data"), work, seed, new File(work, "lake_results.jsonl"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setupMs = (1 to SetupReps).map { _ =>
        spark.catalog.clearCache()
        Workload.timeMs(wl.setup())._2
      }
      wl.warmup()

      val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      val layerOps = mutable.ArrayBuffer.empty[Map[String, Double]]
      var attempted, failed = 0
      var tracer: Option[Tracer] = None
      val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      var cpuNs = 0L
      var cpuOps = 0
      val t0 = System.nanoTime()
      // a run measures whole blocks, at least `--min-blocks` of them, for at
      // least the requested seconds: a fixed least amount of work, so a slow
      // moment of the host does not also shorten the run
      val traceOps = wl.blockSize * a("trace-blocks").toInt
      val minOps = wl.blockSize * a("min-blocks").toInt
      def more =
        if (trace) attempted < 2 * traceOps
        else attempted < minOps || attempted % wl.blockSize != 0 ||
          (System.nanoTime() - t0) / 1e9 < seconds
      while (more) {
        if (trace && attempted == traceOps) tracer = Some(new Tracer(spark))
        wl.prepare(attempted)
        spark.catalog.clearCache()
        tracer.foreach(_.begin(wl.roots))
        val cpuStart = cpu.getProcessCpuTime
        val op = try Some(wl.op(attempted)) catch { case e: Throwable =>
          System.err.println(s"[nwbench] op $attempted failed: $e")
          None
        }
        val opCpuNs = cpu.getProcessCpuTime - cpuStart
        tracer.foreach(t => layerOps += t.end(op.map(_.changedRows).getOrElse(0L)))
        op match {
          case Some(o) if o.ok =>
            if (o.gated) { cpuNs += opCpuNs; cpuOps += 1 }
            val phase = (if (tracer.isDefined) "traced." else "") + (if (o.gated) "" else "side.")
            o.samples.foreach { case (k, ms) =>
              series.getOrElseUpdate(phase + k, mutable.ArrayBuffer.empty) += ms
            }
          case Some(_) =>
            System.err.println(s"[nwbench] op $attempted returned a wrong result")
            failed += 1
          case None => failed += 1
        }
        attempted += 1
      }
      val loopS = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.close())
      val checked = try wl.check() catch { case e: Throwable =>
        System.err.println(s"[nwbench] end-of-run check failed: $e")
        false
      }
      if (!checked) failed += 1
      val summary = Map(
        "workload" -> workload, "seed" -> seed, "attempted" -> attempted, "failed" -> failed,
        "checked" -> checked, "loop_s" -> loopS, "cpu_s" -> cpuNs / 1e9, "cpu_ops" -> cpuOps,
        "setup_ms" -> setupMs, "series" -> series, "extra" -> wl.extra,
        "layers" -> (if (trace) Tracer.summarize(layerOps.toSeq) else Map.empty))
      java.nio.file.Files.write(out.toPath, Workload.json(summary).getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def session(work: File): SparkSession = {
    graft.GraftSession.configure(SparkSession.builder().master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", new File(work, "wh").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
  }
}
