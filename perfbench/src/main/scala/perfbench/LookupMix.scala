package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.marts.{DailySales, ItemPerformance, SilverEvents}
import graft.sink.ServingSink
import graft.sources.Snapshots

/** One read of the seeded lookup schedule. `version` is the table version
  * the answer must match (-1 for the serving layout). */
final case class Read(kind: String, version: Long, sql: String, reference: String)

/** `lookup_mix`: a closed loop of one client and no writes, over a table
  * setup builds with the commit API (many versions and files, live
  * positional and equality delete files, a bloom-filtered hash key) and
  * over the serving layout of the medallion pipeline. */
final class LookupMix(seed: Long) extends Workload {
  val DayRows = 2000
  val DaysPerCommit = 5
  val Events = 10000L
  val ScheduleLength = 15
  val Kinds = Seq("read.point", "read.range", "read.asof", "read.agg", "read.serving")

  private var table = ""
  private var path = ""
  private var serving = ""
  private var copies = ""
  private var schedule = IndexedSeq.empty[Read]
  private var answers = Map.empty[Int, Seq[String]]
  private var filesIn = Map.empty[Long, Long]
  private var next = 0

  /** A row's key: 16 hex digits of a hash of its id and the seed. */
  private def keyExpr(id: String) = s"substr(md5(concat(CAST($id AS STRING), '-$seed')), 1, 16)"

  private def rows(spark: SparkSession, from: Long, n: Long, day: Int): DataFrame =
    spark.range(from, from + n).selectExpr("id", s"${keyExpr("id")} AS key",
      s"CAST(pmod(xxhash64(id, ${seed}L), 64) AS INT) AS grp",
      s"pmod(xxhash64(id, ${seed}L, 1), 1000) AS amount",
      s"date_from_unix_date(${TRow.Day0 + day} + CAST(pmod(xxhash64(id, ${seed}L, 2), $DaysPerCommit) AS INT)) AS day")

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    val warehouse = Util.catalog(ctx)
    table = s"graft.bench.lk_r$rep"
    path = s"$warehouse/bench/lk_r$rep"
    copies = s"${ctx.work}/lookup/r$rep/copies"
    serving = s"${ctx.work}/lookup/r$rep/serving"
    val perCommit = DayRows.toLong * DaysPerCommit
    // versions: CTAS + fast appends of five-day slices (tight day bounds per
    // file), then a merge-on-read delete and a keyed upsert, so positional
    // and equality delete files stay live
    rows(spark, 0, perCommit, 0).createOrReplaceTempView("pb_lk")
    spark.sql(s"CREATE TABLE $table TBLPROPERTIES('graft.bloom.columns'='key') " +
      "AS SELECT /*+ COALESCE(1) */ * FROM pb_lk")
    for (c <- 1 until Commits) {
      rows(spark, c * perCommit, perCommit, c * DaysPerCommit).createOrReplaceTempView("pb_lk")
      spark.sql(s"INSERT INTO $table SELECT /*+ COALESCE(1) */ * FROM pb_lk")
    }
    val total = TotalRows
    val lo = new scala.util.Random(seed).nextInt((total / 2).toInt).toLong
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try spark.sql(s"DELETE FROM $table WHERE id BETWEEN $lo AND ${lo + 300}")
    finally spark.conf.set("spark.graft.delete.mode", "copy-on-write")
    val up = rows(spark, total - 200, 400, 28).withColumn("amount", col("amount") + 5000)
    Snapshots.upsertBatch(spark, path, up.coalesce(1), Seq("id"))
    val versions = Snapshots.versions(path)
    require(versions == expectedVersions, s"versions $versions, expected $expectedVersions")
    next = 0
  }

  /** Two served marts of the medallion pipeline over a small event set,
    * written by the pipeline's own serving writers; the references; then
    * one read of each kind as the untimed JIT pass. */
  def warm(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val silver = SilverEvents.build(Gen.events(spark, Events, seed)).cache()
    try {
      ServingSink.writeDateMart(DailySales.build(silver), s"$serving/daily_sales", "event_date")
      Pipeline.writeEntityMart(ItemPerformance.build(silver), s"$serving/item_performance")
    } finally { silver.unpersist(); () }
    schedule = plan(spark.read.parquet(s"$serving/item_performance").columns.head)
    // plain parquet copies of every version the schedule reads, and the
    // answers the same predicates give over them
    val readVersions = schedule.map(_.version).filter(_ >= 0).distinct
    readVersions.foreach { v =>
      Snapshots.readAsOf(spark, path, v).write.mode("overwrite").parquet(s"$copies/v$v")
    }
    Seq("daily_sales", "item_performance").foreach { m =>
      spark.read.parquet(s"$serving/$m").write.mode("overwrite").parquet(s"$copies/$m")
    }
    answers = schedule.zipWithIndex.map { case (r, i) => i -> reference(spark, r) }.toMap
    filesIn = readVersions.map(v => v -> Util.filesScanned(
      spark.sql(s"SELECT * FROM $table VERSION AS OF $v").queryExecution.executedPlan)).toMap
    Kinds.indices.foreach(_ => step(ctx))
  }

  private def keyOf(id: Long): String =
    org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$id-$seed").take(16)

  private val Commits = 30 / DaysPerCommit
  private val TotalRows = DayRows.toLong * DaysPerCommit * Commits
  /** CTAS, the appends, one merge-on-read delete and one keyed upsert. */
  private val expectedVersions: Seq[Long] = (1L to Commits + 2L)

  /** The seeded schedule: the five kinds in turn, parameters drawn per
    * read. A pure function of the seed. */
  private def plan(entityKey: String): IndexedSeq[Read] = {
    val rnd = new scala.util.Random(seed + 1)
    val head = expectedVersions.last
    // two older versions: one with the positional deletes live, one
    // among the appends
    val older = Seq(expectedVersions(expectedVersions.size - 2), expectedVersions(expectedVersions.size / 2))
    (0 until ScheduleLength).map { i =>
      Kinds(i % Kinds.size) match {
        case "read.point" =>
          val id = rnd.nextInt(TotalRows.toInt + 50) // some keys are absent
          Read("read.point", head, s"SELECT id, grp, amount, day FROM $table WHERE key = " +
            s"'${keyOf(id)}' ORDER BY id", "")
        case "read.range" =>
          val d = TRow.Day0 + rnd.nextInt(29)
          Read("read.range", head, s"SELECT count(*), sum(amount) FROM $table " +
            s"WHERE day BETWEEN ${TRow.sqlDate(d)} AND ${TRow.sqlDate(d + 1)}", "")
        case "read.asof" =>
          val v = older(rnd.nextInt(older.size))
          Read("read.asof", v, s"SELECT count(*), sum(amount) FROM $table VERSION AS OF $v " +
            s"WHERE grp = ${rnd.nextInt(64)}", "")
        case "read.agg" =>
          Read("read.agg", head, s"SELECT count(*), min(amount), max(amount) FROM $table", "")
        case _ =>
          if (rnd.nextBoolean()) {
            val d = TRow.Day0 + rnd.nextInt(25)
            Read("read.serving", -1, s"SELECT count(*), sum(total_events), sum(total_revenue) " +
              s"FROM parquet.`$serving/daily_sales` WHERE event_date BETWEEN " +
              s"${TRow.sqlDate(d)} AND ${TRow.sqlDate(d + 4)}", "daily_sales")
          } else {
            Read("read.serving", -1, s"SELECT * FROM parquet.`$serving/item_performance` " +
              s"WHERE $entityKey = ${rnd.nextInt(110)}", "item_performance")
          }
      }
    }
  }

  /** The read's predicate over the plain copy of the version it reads. */
  private def reference(spark: SparkSession, r: Read, version: Option[Long] = None): Seq[String] = {
    val copy = if (r.version < 0) s"$copies/${r.reference}" else s"$copies/v${version.getOrElse(r.version)}"
    val source = if (r.version < 0) s"parquet.`$serving/${r.reference}`"
      else if (r.kind == "read.asof") s"$table VERSION AS OF ${r.version}" else table
    spark.read.parquet(copy).createOrReplaceTempView("pb_copy")
    canon(spark.sql(r.sql.replace(source, "pb_copy")).collect())
  }

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def step(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val i = next % schedule.size
    next += 1
    val r = schedule(i)
    ctx.op(r.kind) {
      Trace.span(r.kind) {
        val df = spark.sql(r.sql)
        (df, df.collect())
      }
    }.foreach { case (df, got) =>
      val want =
        if (ctx.plant == "wrong_version" && r.kind == "read.asof")
          reference(spark, r, Some(schedule.find(_.kind == "read.point").get.version))
        else answers(i)
      ctx.check(canon(got) == want, s"${r.kind} v${r.version}: ${canon(got).take(3)} != ${want.take(3)}")
      if (ctx.traced) {
        val scanned = Util.filesScanned(df.queryExecution.executedPlan).toDouble
        val total = (if (r.version < 0)
          Util.walk(s"$serving/${r.reference}").count(_._1.endsWith(".parquet")).toLong
        else filesIn(r.version)).toDouble
        ctx.annotate("plan_ms" -> Util.planMs(df), "files_scanned" -> scanned,
          "files_in_version" -> total)
      }
    }
  }

  def opList(n: Int): Seq[String] = {
    table = "lk"; serving = "serving"
    val s = plan("item_key")
    Seq.tabulate(n)(i => s(i % s.size).sql)
  }
}
