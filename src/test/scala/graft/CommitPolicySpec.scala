package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.Files

import graft.core.GraftTable
import graft.catalog.GraftCatalog

/** Every GraftTable commit op against a commit that lands between its
  * derive and its first CAS (the `betweenStageAndCommitForTests` seam
  * injects a concurrent `setProperties`). A REBASE op must land on top of
  * it — version v+2, the injected property carried. A PINNED op must
  * refuse with its exception type, leaving the head at the injected
  * version and the rows as they were. The v1 creators race a concurrent
  * `create` instead (there is no table to set properties on) and fail
  * like an existing table. */
class CommitPolicySpec extends AnyFunSuite with SparkSpecBase {

  private val warehouse = Files.createTempDirectory("graft_commit_policy").toString

  spark.conf.set("spark.sql.catalog.gcpol", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gcpol.warehouse", warehouse)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS gcpol.ns")

  private def kv(rows: (Int, String)*) =
    df("k INT, v STRING", rows.map(r => Row(Int.box(r._1), r._2)): _*)

  /** A one-file table: a MOR delete of k = 1 leaves that file with a vector. */
  private def base(p: String): Unit =
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b").coalesce(1), p)

  /** Parquet part files of `rows`, written outside the table — what
    * executor-side writers hand the commit. */
  private def parts(rows: (Int, String)*): Seq[File] = {
    val dir = Files.createTempDirectory("graft_commit_parts").toString + "/out"
    kv(rows: _*).coalesce(1).write.parquet(dir)
    new File(dir).listFiles.filter(_.getName.endsWith(".parquet")).toSeq
  }

  private sealed trait Policy
  private case object Rebase extends Policy
  private case class Refuse(thrown: Class[_ <: Throwable]) extends Policy
  private val cme = classOf[java.util.ConcurrentModificationException]

  /** One op: `setup` builds the table at its path (or leaves it absent),
    * `run` commits. `carried` is false only where the op replaces the
    * properties by definition. */
  private case class Case(op: String, policy: Policy, setup: String => Unit,
      run: String => Any, carried: Boolean = true)

  private val cases = Seq(
    Case("append", Rebase, base, GraftTable.append(kv(9 -> "z"), _)),
    Case("overwrite", Rebase, base, GraftTable.overwrite(kv(9 -> "z"), _)),
    Case("append_evolve", Rebase, base, GraftTable.appendEvolve(
      df("k INT, v STRING, w INT", Row(Int.box(9), "z", Int.box(1))), _)),
    Case("stream_append", Rebase, base, GraftTable.appendStream(kv(9 -> "z"), _, "s", 0L)),
    Case("stream_files", Rebase, base, p => GraftTable.commitStreamFiles(spark, p, "s",
      0L, parts(9 -> "z"), kv().schema)),
    Case("sql_insert", Rebase, base,
      p => spark.sql(s"INSERT INTO gcpol.ns.${new File(p).getName} VALUES (9, 'z')")),
    Case("sql_update_group", Rebase, base,
      p => spark.sql(s"UPDATE gcpol.ns.${new File(p).getName} SET v = 'x' WHERE k = 1")),
    Case("add_check", Rebase, base, GraftTable.addCheck(spark, _, "pos", "k > 0")),
    Case("drop_check", Rebase, p => { base(p); GraftTable.addCheck(spark, p, "pos", "k > 0") },
      GraftTable.dropCheck(_, "pos")),
    Case("analyze", Rebase, base, GraftTable.analyzeStats(spark, _, Nil, Seq("k"))),
    Case("replace_table", Rebase, p => { base(p); GraftTable.overwrite(kv(7 -> "s"), p + "_s") },
      p => GraftTable.replaceFrom(p, p + "_s"), carried = false),
    Case("restore", Rebase, p => { base(p); GraftTable.append(kv(9 -> "z"), p) },
      GraftTable.restore(_, 1L)),
    Case("sync_mark", Rebase, base, GraftTable.registerConsumer(_, "c", 1L)),
    Case("set_properties", Rebase, base, GraftTable.setProperties(_, Map("mine" -> "1"))),
    Case("upsert", Refuse(cme), base,
      GraftTable.upsertByKey(spark, _, kv(1 -> "A"), Seq("k"))),
    Case("delete_where", Refuse(cme), base, GraftTable.deleteWhere(spark, _, col("k") === 1)),
    Case("delete_mor", Refuse(cme), base, GraftTable.deleteWhereMor(spark, _, col("k") === 1)),
    Case("sql_update_mor", Refuse(cme),
      p => { base(p); GraftTable.setProperties(p, Map("graft.deletionVectors" -> "true")) },
      p => spark.sql(s"UPDATE gcpol.ns.${new File(p).getName} SET v = 'x' WHERE k = 1")),
    Case("rename_column", Refuse(cme), base, GraftTable.renameColumn(_, "v", "w")),
    Case("add_column", Refuse(cme), base, GraftTable.addColumn(_, "w", "INT")),
    Case("drop_column", Refuse(cme), base, GraftTable.dropColumn(_, "v")),
    Case("truncate", Refuse(cme), base, GraftTable.truncate(_)),
    Case("compact", Refuse(cme),
      p => { GraftTable.overwrite(kv(1 -> "a"), p); GraftTable.append(kv(2 -> "b"), p) },
      GraftTable.compactFiles(spark, _)),
    Case("purge_dv", Refuse(cme),
      p => { base(p); GraftTable.deleteWhereMor(spark, p, col("k") === 1) },
      GraftTable.purgeDeletes(spark, _)),
    Case("create", Refuse(classOf[IllegalArgumentException]), _ => (),
      GraftTable.create(_, kv().schema)),
    Case("convert", Refuse(classOf[IllegalArgumentException]),
      p => kv(1 -> "a").write.parquet(p), GraftTable.convertParquetDir(spark, _)),
    Case("clone", Refuse(classOf[IllegalArgumentException]),
      p => base(p + "_src"), p => GraftTable.cloneTable(spark, p + "_src", p)))

  private def rows(p: String): Seq[String] =
    if (GraftTable.exists(p)) canon(GraftTable.read(spark, p)) else Nil

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  cases.foreach { c =>
    val does = if (c.policy == Rebase) "rebases over" else "refuses on"
    test(s"${c.op} $does a commit landing before its first CAS") {
      val p = s"$warehouse/ns/${c.op}"
      c.setup(p)
      val v = GraftTable.currentVersion(p).getOrElse(0L)
      val before = rows(p)
      var fired = false
      GraftTable.betweenStageAndCommitForTests = () => {
        // reset FIRST: the injected commit passes the seam itself
        GraftTable.betweenStageAndCommitForTests = () => ()
        fired = true
        if (v == 0) GraftTable.create(p, kv().schema, Map("raced" -> "1"))
        else GraftTable.setProperties(p, Map("raced" -> "1"))
      }
      try c.policy match {
        case Rebase =>
          c.run(p)
          assert(fired)
          assert(GraftTable.currentVersion(p).contains(v + 2))
          assert(GraftTable.propertiesOf(p).get("raced").contains("1") == c.carried,
            GraftTable.propertiesOf(p).toString)
        case Refuse(thrown) =>
          val e = intercept[Throwable](c.run(p))
          assert(fired)
          assert(causes(e).exists(thrown.isInstance), e.toString)
          assert(GraftTable.currentVersion(p).contains(v + 1))
          assert(GraftTable.propertiesOf(p).get("raced").contains("1"))
          assert(rows(p) == before)
      } finally GraftTable.betweenStageAndCommitForTests = () => ()
    }
  }
}
