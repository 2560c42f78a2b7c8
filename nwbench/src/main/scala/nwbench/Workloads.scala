package nwbench

import java.io.File
import java.time.LocalDateTime

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.{GraftTable, TableIO}
import graft.operators.AsOf
import graft.scd.{Scd2, Scd2Config}

/** One timed op's samples in ms, keyed `"<series>:<op type>"`. Series "a"
  * and "b" are the workload's two timings. The samples and CPU time of an
  * op that is not `gated` are reported beside the gated figures only. */
final case class Op(samples: Seq[(String, Double)], ok: Boolean, changedRows: Long = 0L,
    gated: Boolean = true)

/** A closed-loop workload driven by one client thread. */
trait Workload {
  /** Directories whose tables the tracer inspects around each op. */
  def roots: Seq[File]
  /** Build the starting state; run several times, the last build is kept. */
  def setup(): Unit
  /** Untimed work after set-up that brings the JVM and caches to steady
    * state: whatever the ops need, then whole blocks of ops. */
  def warmup(): Unit
  /** Untimed, untraced work before op `i`. */
  def prepare(i: Int): Unit = ()
  def op(i: Int): Op
  /** Ops per block: each block deals the whole mix, so a run that measures
    * whole blocks has the same mix whatever the seed. */
  def blockSize: Int
  /** Untimed end-of-run checks inside the JVM; false marks the run's last op failed. */
  def check(): Boolean
  /** Values reported beside the timings (name -> value). */
  def extra: Map[String, Double] = Map.empty
}

object Workload {
  def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: scala.math.BigDecimal => n.bigDecimal.toPlainString
    case n: Number => n.toString
    case d: java.sql.Date => json(d.toString)
    case d: java.time.LocalDate => json(d.toString)
    case t: java.sql.Timestamp => json(t.toLocalDateTime.toString)
    case t: LocalDateTime => json(t.toString)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case r: Row => json(r.toSeq)
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case other => json(other.toString)
  }
}

/** Deals op types in blocks: each block is `pattern` in a seeded order. */
final class Deck(pattern: Seq[String], rng: java.util.SplittableRandom) {
  private var hand = List.empty[String]
  def next(): String = {
    if (hand.isEmpty) {
      val a = pattern.toArray
      for (i <- a.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      hand = a.toList
    }
    val h = hand.head
    hand = hand.tail
    h
  }
}

import Workload.timeMs

/** `cdc_apply`: a seeded stream of keyed change sets applied to a clustered,
  * stats-carrying GraftTable of orders, each followed by a pruned point read
  * of the keys it changed. Each block of sets starts from the table as set-up
  * built it (a metadata-only restore), so an op's cost depends on its place
  * in the block and its keys, not on how long the run has gone. An in-memory
  * model replays the same sets from the same start and checks every
  * read-back and the final table.
  *
  * The shape of a set (150 upserts, 25 deletes, 25 inserts), the even split
  * of recent and uniform sets and the share of empty and no-match sets are
  * assumptions, not measured from a CDC stream. So only the recent and
  * uniform sets are gated; the empty and no-match sets, which close each
  * block, are reported beside them. */
final class CdcApply(spark: SparkSession, sfDir: String, work: File, seed: Long)
    extends Workload {
  private val dir = new File(work, "cdc")
  private val path = new File(dir, "orders").getPath
  private val keyCol = "o_orderkey"
  private val stats = Seq(keyCol)
  private val setSize = 200
  def roots: Seq[File] = Seq(dir)

  // SplitMix: java.util.Random's LCG correlates draws a fixed stride apart,
  // and every op here consumes a fixed number of draws
  private val rng = new java.util.SplittableRandom(seed)
  private val pattern = Seq("recent", "uniform", "recent", "uniform", "empty", "nomatch")
  def blockSize: Int = pattern.size
  private var base = Map.empty[Long, Row]
  private val model = mutable.HashMap.empty[Long, Row]
  private var schema: StructType = _
  private var nextKey = 0L
  private var keySpan = 0L
  private val keyFrameSchema = StructType(Seq(StructField(keyCol, LongType)))

  def setup(): Unit = {
    TableIO.clearDir(dir.getPath)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    GraftTable.writeClustered(orders, path, col(keyCol), 16, statsCols = stats)
  }

  def warmup(): Unit = {
    schema = GraftTable.read(spark, path).schema
    base = GraftTable.read(spark, path).collect().map(r => r.getLong(0) -> r).toMap
    keySpan = base.keys.max + 1
    // one block: in a fresh JVM the first block runs about a fifth slower
    // than the next (JIT); a block costs ~7 s, so more do not fit a run
    (0 until blockSize).foreach { i => prepare(i); op(i) }
  }

  override def prepare(i: Int): Unit = if (i % blockSize == 0) {
    GraftTable.restore(path, 1L)
    model.clear()
    model ++= base
    nextKey = keySpan
  }

  /** Distinct live keys drawn uniformly from [lo, nextKey). */
  private def liveKeys(n: Int, lo: Long): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < n) {
      val k = lo + (rng.nextDouble() * (nextKey - lo)).toLong
      if (model.contains(k)) picked += k
    }
    picked.toSeq
  }

  private def price(): Double = math.round(rng.nextDouble() * 4.0e7) / 100.0

  def op(i: Int): Op = apply(pattern(i % blockSize))

  private def apply(kind: String): Op = {
    val (upserts, deletes): (Seq[Row], Seq[Long]) = kind match {
      case "recent" | "uniform" =>
        val lo = if (kind == "recent") nextKey - keySpan / 20 else 0L
        val keys = liveKeys(setSize * 7 / 8, lo)
        val (upd, del) = keys.splitAt(setSize * 3 / 4)
        val updated = upd.map { k =>
          val r = model(k)
          Row(k, r.get(1), "U", price(), r.get(4), r.get(5))
        }
        val inserted = (0 until setSize - keys.size).map { j =>
          val like = model(upd(j % upd.size))
          Row(nextKey + j, (rng.nextDouble() * 15000).toLong, "N", price(), like.get(4), "1-URGENT")
        }
        (updated ++ inserted, del)
      case "empty" => (Nil, Nil)
      case _ => (Nil, (1 to setSize).map(_ => -1L - rng.nextInt(1000000)).distinct)
    }
    val delFrame = spark.createDataFrame(
      java.util.Arrays.asList(deletes.map(Row(_)): _*), keyFrameSchema)
    val insFrame = spark.createDataFrame(java.util.Arrays.asList(upserts: _*), schema)
    val (_, applyMs) = timeMs(
      GraftTable.applyChangeSet(spark, path, delFrame, insFrame, Seq(keyCol), stats))
    val matchedDeletes = deletes.count(model.contains)
    deletes.foreach(model.remove)
    upserts.foreach(r => model(r.getLong(0)) = r)
    nextKey = nextKey max (upserts.map(_.getLong(0)) :+ -1L).max + 1
    val touched = upserts.map(_.getLong(0)) ++ deletes
    val readback =
      if (touched.isEmpty) None
      else Some(timeMs(GraftTable.readPrunedIn(spark, path, keyCol, touched).df
        .filter(col(keyCol).isin(touched: _*)).collect()))
    val ok = readback.forall { case (rows, _) =>
      rows.map(r => r.getLong(0) -> r).toMap == touched.flatMap(k => model.get(k).map(k -> _)).toMap
    }
    Op(Seq(s"a:$kind" -> applyMs) ++ readback.map { case (_, ms) => s"b:$kind" -> ms },
      ok, upserts.size + matchedDeletes, gated = kind == "recent" || kind == "uniform")
  }

  private var bytesPerLiveByte = 0.0

  /** The final table equals the model's replay. Also measures the bytes of
    * the current snapshot's files against the same rows written once. */
  def check(): Boolean = {
    val rows = GraftTable.read(spark, path).collect()
    val same = rows.length == model.size && rows.forall(r => model.get(r.getLong(0)).contains(r))
    val fresh = new File(work, "cdc_fresh").getPath
    TableIO.clearDir(fresh)
    GraftTable.overwrite(GraftTable.read(spark, path), fresh)
    bytesPerLiveByte = Manifests.live(new File(path))._2.toDouble /
      Manifests.live(new File(fresh))._2
    same
  }

  override def extra: Map[String, Double] = Map("bytes_per_live_byte" -> bytesPerLiveByte)
}

/** `lake_reads`: a read-only mix over GraftTables built once in set-up,
  * issued through SQL on the catalog and through the `GraftTable.read*`
  * API. Every op records its result and the same query over the plain
  * parquet sources, which DuckDB runs after the JVM exits. */
final class LakeReads(spark: SparkSession, sfDir: String, work: File, seed: Long,
    resultsFile: File) extends Workload {
  private val ns = new File(work, "wh/lake")
  def roots: Seq[File] = Seq(ns)
  private def p(t: String) = new File(ns, t).getPath

  // SplitMix: java.util.Random's LCG correlates draws a fixed stride apart,
  // and every op here consumes a fixed number of draws
  private val rng = new java.util.SplittableRandom(seed)
  private val deck = new Deck(Seq("lookup.in_sql", "lookup.in_api", "lookup.meta",
    "scan.range_sql", "scan.range_api", "scan.version", "analytic.star", "analytic.asof"), rng)
  def blockSize: Int = 8
  private val results = mutable.ArrayBuffer.empty[String]
  private var nOrders = 0L
  private def cut = nOrders * 9 / 10

  // the head version's change set: prices double in one week, one day's orders go
  private val updLo = "1996-03-01"; private val updHi = "1996-03-08"
  private val delLo = "1997-06-01"; private val delHi = "1997-06-03"
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** The source columns the queries read; the lake tables hold only these. */
  private val columns = Map(
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"),
    "lineitem" -> Seq("l_orderkey", "l_extendedprice", "l_discount"),
    "customer" -> Seq("c_custkey", "c_nationkey", "c_mktsegment"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "region" -> Seq("r_regionkey", "r_name"))
  private def src(t: String) =
    spark.read.parquet(s"$sfDir/$t.parquet").select(columns(t).map(col): _*)
  private def ts(d: String) = LocalDateTime.parse(d + "T00:00:00")
  private def inWindow(lo: String, hi: String) =
    col("o_orderdate") >= lit(ts(lo)) && col("o_orderdate") < lit(ts(hi))

  /** Builds `orders`, the table most queries read, in three versions. */
  def setup(): Unit = {
    TableIO.clearDir(p("orders"))
    val orders = src("orders")
    nOrders = orders.count()
    val oStats = Seq("o_orderkey", "o_orderdate", "o_totalprice")
    GraftTable.writeClustered(orders.filter(col("o_orderkey") < cut), p("orders"),
      col("o_orderdate"), 12, statsCols = oStats, bloomCols = Seq("o_orderkey"))
    GraftTable.append(orders.filter(col("o_orderkey") >= cut), p("orders"), oStats,
      Seq("o_orderkey"))
    GraftTable.applyChangeSet(spark, p("orders"),
      orders.filter(inWindow(delLo, delHi)).select("o_orderkey"),
      orders.filter(inWindow(updLo, updHi)).withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey"), oStats)
    require(GraftTable.currentVersion(p("orders")).contains(3L), "orders must have 3 versions")
  }

  /** Builds the joined tables once, untimed, then runs the warm-up blocks. */
  def warmup(): Unit = {
    Seq("lineitem", "customer", "nation", "region", "dim_customer").foreach(t => TableIO.clearDir(p(t)))
    GraftTable.overwrite(src("lineitem"), p("lineitem"), statsCols = Seq("l_orderkey"))
    Seq("customer", "nation", "region").foreach(t => GraftTable.overwrite(src(t), p(t)))
    val customer = src("customer")
    val history = customer.select(col("c_custkey"), col("c_mktsegment"),
        lit(ts("1990-01-01")).as("eff"))
      .unionByName(customer.filter(col("c_custkey") % 10 === 3)
        .select(col("c_custkey"), lit("UPDATED").as("c_mktsegment"), lit(ts("1998-06-01")).as("eff")))
      .withColumn("row_hash", md5(col("c_mktsegment")))
    GraftTable.overwrite(Scd2.fromHistory(history,
      Scd2Config(Seq("c_custkey"), "eff", payload = Seq("c_mktsegment"))), p("dim_customer"))
    // three blocks: query times fall by a quarter over the first three
    // blocks of a fresh JVM (JIT), and a block costs only ~2.5 s
    (1 to 3 * blockSize).foreach(_ => op(-1))
    results.clear()
    results += Workload.json(Map("views" -> views))
  }

  /** The plain-parquet equivalents of the lake tables, as DuckDB views. */
  private def views: Map[String, String] = {
    def pq(t: String) = s"read_parquet('$sfDir/$t.parquet')"
    def win(lo: String, hi: String) =
      s"o_orderdate >= TIMESTAMP '$lo' AND o_orderdate < TIMESTAMP '$hi'"
    Map(
      "orders_v1" -> s"SELECT * FROM ${pq("orders")} WHERE o_orderkey < $cut",
      "orders_v2" -> s"SELECT * FROM ${pq("orders")}",
      "orders_v3" -> (s"SELECT o_orderkey, o_custkey, o_orderstatus, CASE WHEN ${win(updLo, updHi)} " +
        s"THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice, o_orderdate " +
        s"FROM ${pq("orders")} WHERE NOT (${win(delLo, delHi)})"),
      "lineitem" -> s"SELECT * FROM ${pq("lineitem")}",
      "customer" -> s"SELECT * FROM ${pq("customer")}",
      "nation" -> s"SELECT * FROM ${pq("nation")}",
      "region" -> s"SELECT * FROM ${pq("region")}",
      "dim_customer" -> (s"SELECT c_custkey, c_mktsegment, 1 AS version_no, " +
        "TIMESTAMP '1900-01-01' AS effective_date, CASE WHEN c_custkey % 10 = 3 " +
        "THEN TIMESTAMP '1998-06-01' ELSE TIMESTAMP '3001-01-01' END AS expiry_date " +
        s"FROM ${pq("customer")} UNION ALL SELECT c_custkey, 'UPDATED', 2, " +
        "TIMESTAMP '1998-06-01', TIMESTAMP '3001-01-01' " +
        s"FROM ${pq("customer")} WHERE c_custkey % 10 = 3"))
  }

  /** `{orders}` / `{orders@2}` / `{ts:1996-01-01}` in a query template,
    * rendered for the catalog (Spark) or for the DuckDB views. */
  private def render(q: String, spark: Boolean): String =
    "\\{([a-z_]+)(?:@(\\d))?\\}|\\{ts:([0-9-]+)\\}".r.replaceAllIn(q, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (m.group(3) != null)
          (if (spark) s"TIMESTAMP_NTZ '" else "TIMESTAMP '") + m.group(3) + " 00:00:00'"
        else if (spark)
          s"graft.lake.${m.group(1)}" + Option(m.group(2)).map(v => s" VERSION AS OF $v").getOrElse("")
        else if (m.group(1) == "orders") s"orders_v${Option(m.group(2)).getOrElse("3")}"
        else m.group(1)))

  private def month(m: Int): String = f"${1995 + m / 12}%04d-${m % 12 + 1}%02d-01"

  def op(i: Int): Op = {
    val kind = deck.next()
    def keys = Seq.fill(20)((rng.nextDouble() * nOrders * 1.01).toLong).distinct
    def inList(ks: Seq[Long]) = "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice " +
      s"FROM {orders} WHERE o_orderkey IN (${ks.mkString(", ")})"
    def rollup(v: String, lo: String, hi: String) =
      "SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS m, count(*) AS n, " +
        s"sum(o_totalprice) AS revenue FROM {orders$v} WHERE o_orderdate >= {ts:$lo} " +
        s"AND o_orderdate < {ts:$hi} GROUP BY 1"
    def sql(q: String) = (q, () => spark.sql(render(q, spark = true)).collect())
    val (ref, run): (String, () => Array[Row]) = kind match {
      case "lookup.in_sql" => sql(inList(keys))
      case "lookup.in_api" =>
        val ks = keys
        (inList(ks), () => GraftTable.readPrunedIn(spark, p("orders"), "o_orderkey", ks).df
          .filter(col("o_orderkey").isin(ks: _*))
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice").collect())
      case "lookup.meta" =>
        sql("SELECT count(*) AS n, max(o_orderkey) AS max_key, min(o_totalprice) AS min_price " +
          s"FROM {orders@${1 + rng.nextInt(3)}}")
      case "scan.range_sql" =>
        val m = rng.nextInt(76)
        sql(rollup("", month(m), month(m + 3)))
      case "scan.range_api" =>
        val m = rng.nextInt(76)
        val (lo, hi) = (month(m), month(m + 3))
        (rollup("", lo, hi), () => GraftTable.readPruned(spark, p("orders"),
            Seq(GraftTable.ColRange("o_orderdate", Some(ts(lo)), Some(ts(hi))))).df
          .filter(inWindow(lo, hi))
          .groupBy(date_trunc("MONTH", col("o_orderdate")).cast("date").as("m"))
          .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("revenue")).collect())
      case "scan.version" =>
        val m = rng.nextInt(76)
        sql(rollup(s"@${1 + rng.nextInt(3)}", month(m), month(m + 3)))
      case "analytic.star" =>
        sql("SELECT n.n_name, count(*) AS n_lines, " +
          "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue FROM {lineitem} l " +
          "JOIN {orders} o ON l.l_orderkey = o.o_orderkey " +
          "JOIN {customer} c ON o.o_custkey = c.c_custkey " +
          "JOIN {nation} n ON c.c_nationkey = n.n_nationkey " +
          "JOIN {region} r ON n.n_regionkey = r.r_regionkey " +
          s"WHERE r.r_name = '${regions(rng.nextInt(regions.size))}' GROUP BY n.n_name")
      case "analytic.asof" =>
        val y = 1995 + rng.nextInt(6)
        val (lo, hi) = (s"$y-01-01", s"${y + 1}-01-01")
        ("SELECT d.version_no, d.c_mktsegment AS segment, count(*) AS n, " +
          "sum(o.o_totalprice) AS total FROM {orders} o JOIN {dim_customer} d " +
          "ON o.o_custkey = d.c_custkey AND o.o_orderdate >= d.effective_date " +
          s"AND o.o_orderdate < d.expiry_date WHERE o.o_orderdate >= {ts:$lo} " +
          s"AND o.o_orderdate < {ts:$hi} GROUP BY 1, 2",
          () => AsOf.pointInTime(
            GraftTable.read(spark, p("orders")).filter(inWindow(lo, hi)),
            GraftTable.read(spark, p("dim_customer")), "o_custkey", "c_custkey",
            col("__fact.o_orderdate"), "inner")
          .groupBy(col("__dim.version_no").as("version_no"), col("__dim.c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n"), sum(col("__fact.o_totalprice")).as("total")).collect())
    }
    val (rows, ms) = timeMs(run())
    results += Workload.json(Map("op" -> i, "kind" -> kind,
      "ref" -> render(ref, spark = false), "rows" -> rows.toSeq))
    Op(Seq((if (kind.startsWith("analytic")) "b:" else "a:") + kind -> ms), ok = true)
  }

  def check(): Boolean = {
    java.nio.file.Files.write(resultsFile.toPath, results.mkString("", "\n", "\n").getBytes("UTF-8"))
    true
  }
}
