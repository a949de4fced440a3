package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Minimal JSON writer for the raw record the run leaves behind. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case p: Product =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}

/** Fingerprints and filesystem walks shared by the checkers and counters. */
object Util {

  /** Order-independent fingerprint of a frame: row count, sum of row
    * hashes modulo a prime, and xor of row hashes. Equal contents give
    * equal fingerprints; one changed value changes the last two. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    require(df.columns.nonEmpty, "fingerprint of a frame without columns")
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(h, lit(Prime))), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  val Prime = 1000000007L

  /** Regular files under `dir` as (relative path, bytes). */
  def walk(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else scala.util.Using.resource(Files.walk(root)) { w =>
      w.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    }
  }

  def bytes(dir: String): Long = walk(dir).values.sum

  /** Bytes and files that appeared or changed between two walks. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val changed = after.filter { case (p, n) => !before.get(p).contains(n) }
    (changed.values.sum, changed.size.toLong)
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p.collectLeaves().flatMap {
    case q: QueryStageExec => leaves(q.plan)
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case l => Seq(l)
  }

  /** Data files an input partition reads: file partitions directly,
    * wrapper partitions by descending into their fields. */
  private def filesOf(p: Any): Seq[String] = p match {
    case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
    case ip: InputPartition with Product => ip.productIterator.flatMap(filesOf).toSeq
    case xs: Iterable[_] => xs.flatMap(filesOf).toSeq
    case _ => Nil
  }

  /** Distinct data files the executed (or planned) plan scans: from the
    * scan's input partitions for catalog tables and from the scan's
    * `numFiles` metric for plain parquet reads. */
  def filesScanned(plan: SparkPlan): Long = {
    val ls = leaves(plan)
    val v2 = ls.collect { case b: BatchScanExec => b.inputPartitions.flatMap(filesOf) }
      .flatten.distinct.size.toLong
    val v1 = ls.collect { case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
    v2 + v1
  }

  /** Planning time of a query, from its `QueryPlanningTracker` phases. */
  def planMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum

  /** Register the engine's catalog as `graft` over a warehouse in the
    * run's directory, with the namespace `graft.bench`; returns the
    * warehouse path. */
  def catalog(ctx: Ctx): String = {
    val warehouse = s"${ctx.work}/warehouse"
    ctx.spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    ctx.spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    ctx.spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    warehouse
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.driver.extraJavaOptions", s"-Dderby.system.home=$work")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
