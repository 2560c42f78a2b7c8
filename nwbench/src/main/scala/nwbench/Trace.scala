package nwbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.NwBenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.GraftTable

/** The GraftTable state the tracer reads between ops: manifests parsed from
  * `_graft_log/`, the public on-disk format of the table. */
object Manifests {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  def isTable(dir: File): Boolean = new File(dir, "_graft_log").isDirectory

  /** The GraftTable that `path` (a table root or a file inside it) belongs to. */
  def tableOf(path: File): Option[File] =
    Iterator.iterate(path)(_.getParentFile).takeWhile(_ != null).find(isTable)

  def at(table: File, version: Long): GraftTable.Manifest = {
    val f = new File(new File(table, "_graft_log"), f"v$version%020d.json")
    org.json4s.jackson.JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).extract[GraftTable.Manifest]
  }

  def version(table: File): Long = GraftTable.currentVersion(table.getPath).getOrElse(0L)

  /** Live (files, bytes) of the table's current snapshot. */
  def live(table: File): (Long, Long) = liveAt(table, version(table))

  /** Live (files, bytes) of the table's snapshot at `v`. */
  def liveAt(table: File, v: Long): (Long, Long) =
    if (v == 0) (0L, 0L)
    else {
      val m = at(table, v)
      val leaves = m.leaves.getOrElse(Nil)
      (m.files.size.toLong + leaves.map(_.files.toLong).sum,
        m.files.map(_.bytes).sum + leaves.map(_.bytes).sum)
    }

  /** Every GraftTable at or below `root`. */
  def tablesUnder(root: File): Seq[File] =
    if (!root.isDirectory) Nil
    else if (isTable(root)) Seq(root)
    else Option(root.listFiles).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName)
      .flatMap(tablesUnder)
}

private object PlanWalk extends AdaptiveSparkPlanHelper {
  /** Every node of an executed plan, through adaptive plans, subqueries and
    * the physical plan a command result wraps. */
  def nodes(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case n => n }.flatMap {
      case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
      case n => Seq(n)
    }
}

/** Per-layer counters of a traced run, recorded from outside the library:
  * a SparkListener for jobs, stages and task metrics, a
  * QueryExecutionListener for actions, Catalyst phases and scans,
  * and GraftTable manifests plus directory walks for commits and files.
  * Counts are attributed to an op only after the listener bus is drained. */
final class Tracer(spark: SparkSession) {
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private val spans = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var active = false

  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (active) add("driver.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { if (active) add("driver.stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (active) {
        add("driver.tasks", 1)
        spans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          add("exec.run_ms", m.executorRunTime.toDouble)
          add("exec.cpu_ms", m.executorCpuTime / 1e6)
          add("exec.gc_ms", m.jvmGCTime.toDouble)
          add("exec.deser_ms", m.executorDeserializeTime.toDouble)
          add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
          add("sources.records_read", m.inputMetrics.recordsRead.toDouble)
        }
      }
    }
  }

  private val NamedScan = "GraftNamed (.+?)(?: VERSION AS OF (\\d+))?".r

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      action(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      action(qe)
  }

  private def action(qe: QueryExecution): Unit = synchronized {
    if (active) {
      add("driver.actions", 1)
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        add(s"plans.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
      PlanWalk.nodes(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          val read = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          add("sources.files_read", read.toDouble)
          val table = s.relation.location.rootPaths.headOption
            .flatMap(p => Manifests.tableOf(new File(p.toUri.getPath)))
          add("sources.files_total", table.map(t => Manifests.live(t)._1).getOrElse(read).toDouble)
        case b: BatchScanExec =>
          // a catalog-named table: its scan describes itself as
          // "GraftNamed <path>[ VERSION AS OF <v>]", and its input
          // partitions pack the files the prune kept
          val read = b.inputPartitions.flatMap {
            case fp: FilePartition => fp.files.map(_.filePath.toString)
            case _ => Nil
          }.distinct.size
          add("sources.files_read", read.toDouble)
          val total = b.scan.description() match {
            case NamedScan(path, pin) => Manifests.tableOf(new File(path)).map { t =>
              Manifests.liveAt(t, Option(pin).map(_.toLong).getOrElse(Manifests.version(t)))._1
            }
            case _ => None
          }
          add("sources.files_total", total.getOrElse(read.toLong).toDouble)
        case _ =>
      }
    }
  }

  spark.sparkContext.addSparkListener(taskListener)
  spark.listenerManager.register(queryListener)

  def close(): Unit = {
    NwBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(taskListener)
    spark.listenerManager.unregister(queryListener)
  }

  private var roots: Seq[File] = Nil
  private var versionsBefore = Map.empty[File, Long]
  private var opStart = 0L

  /** Start attributing to one op whose GraftTables live under `roots`. */
  def begin(opRoots: Seq[File]): Unit = {
    NwBenchBus.drain(spark.sparkContext)
    synchronized {
      c.clear(); spans.clear()
      roots = opRoots
      versionsBefore = roots.flatMap(Manifests.tablesUnder).map(t => t -> Manifests.version(t)).toMap
      opStart = System.currentTimeMillis()
      active = true
    }
  }

  /** Stop attributing; return the op's layer counters. `changedRows` is the
    * number of rows the op asked to change (0 when it changes none). */
  def end(changedRows: Long): Map[String, Double] = {
    val opEnd = System.currentTimeMillis()
    NwBenchBus.drain(spark.sparkContext)
    synchronized {
      active = false
      add("driver.wall_ms", (opEnd - opStart).toDouble)
      val covered = union(spans.toSeq.map { case (s, e) => (s max opStart, e min opEnd) })
      add("driver.no_task_ms", ((opEnd - opStart) - covered).toDouble.max(0))
      // GraftTable commits: the manifests each new version wrote
      val tables = roots.flatMap(Manifests.tablesUnder)
      tables.foreach { t =>
        val from = versionsBefore.getOrElse(t, 0L)
        (from + 1 to Manifests.version(t)).foreach { v =>
          val ch = Manifests.at(t, v).changes
          val added = ch.map(_.added).getOrElse(Nil)
          val removed = ch.map(_.removed).getOrElse(Nil)
          add("core.commits", 1)
          if (added.map(_.rows).sum == 0 && removed.isEmpty) add("core.empty_commits", 1)
          add("core.files_added", added.size.toDouble)
          add("core.files_removed", removed.size.toDouble)
          add("core.bytes_written", added.map(_.bytes).sum.toDouble)
          add("core.rows_written", added.map(_.rows).sum.toDouble)
        }
      }
      add("core.table_files", tables.map(t => Manifests.live(t)._1).sum.toDouble)
      add("core.changed_rows", changedRows.toDouble)
      c.toMap
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Tracer {
  /** The per-layer metrics a traced run reports. */
  val Metrics: Seq[String] = Seq(
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "driver.actions", "driver.jobs", "driver.stages", "driver.tasks",
    "driver.no_task_ms", "driver.no_task_ratio",
    "core.commits", "core.empty_commits", "core.files_added", "core.files_removed",
    "core.bytes_written", "core.rows_rewritten_per_changed_row", "core.table_files",
    "sources.files_read", "sources.files_total", "sources.files_read_ratio",
    "sources.bytes_read", "sources.records_read",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.deser_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms")

  /** Mean per op of each metric over `ops`; the two ratios are taken of the sums. */
  def summarize(ops: Seq[Map[String, Double]]): Map[String, Double] = {
    def sum(k: String) = ops.map(_.getOrElse(k, 0.0)).sum
    def ratio(a: String, b: String) = if (sum(b) > 0) sum(a) / sum(b) else 0.0
    val n = ops.size.max(1).toDouble
    Metrics.map {
      case k @ "driver.no_task_ratio" => k -> ratio("driver.no_task_ms", "driver.wall_ms")
      case k @ "sources.files_read_ratio" => k -> ratio("sources.files_read", "sources.files_total")
      case k @ "core.table_files" => k -> ops.lastOption.map(_.getOrElse(k, 0.0)).getOrElse(0.0)
      case k @ "core.rows_rewritten_per_changed_row" => k -> ratio("core.rows_written", "core.changed_rows")
      case k => k -> sum(k) / n
    }.toMap
  }
}
