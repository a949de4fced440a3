package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, NumericType, StringType}

import graft.Pipeline
import graft.dedup.NearDup
import graft.marts.SilverEvents
import graft.sim.{IvfAnn, SemDedup}
import graft.sink.ServingSink
import graft.sources.Tables
import graft.text.{Curation, QualityFilters}

object Plant {
  /** Add 1 to the first numeric column of one row: a planted wrong value
    * the output checkers must catch. */
  def perturb(df: DataFrame): DataFrame = {
    val c = df.schema.fields.find(_.dataType.isInstanceOf[NumericType]).get.name
    df.withColumn(c, when(monotonically_increasing_id() === 0L, col(c) + 1).otherwise(col(c)))
  }
}

/** `medallion_batch`: repeated passes of `Pipeline.runAll`, from raw events
  * to silver, the seven gold marts and the serving layout. Silver is
  * rebuilt inside every pass. */
final class MedallionBatch(seed: Long) extends Workload {
  val EventRows = 50000L
  val InputFiles = 8

  private var input = ""
  private var out = ""
  private var ref = Map.empty[String, (Seq[String], (Long, Long, Long))]

  val martClass = Map(
    "daily_sales" -> "DailySales", "hourly_traffic" -> "HourlyTraffic",
    "item_performance" -> "ItemPerformance", "user_journey_funnel" -> "UserJourneyFunnel",
    "conversion_funnel_daily" -> "ConversionFunnelDaily",
    "category_performance" -> "CategoryPerformance", "user_rfm_segments" -> "RfmSegments")

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    input = s"${ctx.work}/medallion/r$rep/input"
    out = s"${ctx.work}/medallion/r$rep/serving"
    Gen.writeShuffled(Gen.events(spark, EventRows, seed), s"$input/events.parquet",
      InputFiles, seed, "event_id")
  }

  /** The untimed JIT pass is also the reference build: silver and each
    * mart built straight from the builders on a pool of four and
    * fingerprinted. It never passes through the DAG runner, the serving
    * writers or the serving read-back, which the checks of each pass
    * cover. A traced run adds one untimed pipeline pass, so its
    * measured passes all follow a warm one. */
  def warm(ctx: Ctx): Unit = {
    val silver = SilverEvents.build(Tables.events(ctx.spark, input)).cache()
    silver.count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      ref = Await.result(Future.sequence(
        Future(("silver_events", (silver.columns.toSeq, Util.fingerprint(silver)))) +:
          Pipeline.goldMartBuilders.map { case (name, build, _) =>
            Future {
              val d = build(silver).localCheckpoint()
              name -> (d.columns.toSeq, Util.fingerprint(d))
            }
          }), 10.minutes).toMap
    } finally { pool.shutdown(); silver.unpersist(); () }
    if (ctx.tracedRun) pass(ctx)
  }

  private def pass(ctx: Ctx): Unit =
    ctx.op("Pipeline.runAll", rows = EventRows) {
      Trace.span("Pipeline.runAll")(Pipeline.runAll(ctx.spark, input, out).collect())
    }.foreach { summary =>
      val served = summary.map(r => r.getString(0) -> r.getLong(1)).toMap
      ref.foreach { case (name, (columns, fp)) =>
        var back = ctx.spark.read.parquet(s"$out/$name").select(columns.map(c => col(s"`$c`")): _*)
        if (ctx.plant == "perturb_mart" && name == "daily_sales") back = Plant.perturb(back)
        val got = Util.fingerprint(back)
        ctx.check(got == fp, s"served $name fingerprint $got != reference $fp")
        served.get(name).foreach(n =>
          ctx.check(n == fp._1, s"summary rows of $name: $n != ${fp._1}"))
      }
    }

  def step(ctx: Ctx): Unit = pass(ctx)

  /** Each stage of the pipeline under its own span: silver, then the
    * seven marts on a pool of four (as the pipeline's DAG runs them),
    * each mart materialised first and then written by the serving sink. */
  override def attribution(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val attrOut = s"$out-attribution"
    Trace.span("attribution") {
      val silver = Trace.span("marts.SilverEvents.build") {
        val s = SilverEvents.build(Tables.events(spark, input)).cache(); s.count(); s
      }
      Trace.span("sink.write") {
        ServingSink.writeSorted(silver, s"$attrOut/silver_events", Seq("event_date"),
          Seq(col("event_time_str").asc))
      }
      val parent = Trace.current
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(Pipeline.goldMartBuilders.map { case (name, build, dateCol) =>
        Future {
          Trace.span(s"marts.${martClass(name)}", parent) {
            val df = build(silver).localCheckpoint()
            Trace.span("sink.write") {
              if (dateCol.nonEmpty) ServingSink.writeDateMart(df, s"$attrOut/$name", dateCol)
              else Pipeline.writeEntityMart(df, s"$attrOut/$name")
            }
          }
        }
      }), 10.minutes)
      finally { pool.shutdown(); silver.unpersist() }
    }
    val files = Util.walk(attrOut).filter(_._1.endsWith(".parquet"))
    ctx.counts("sink.bytes_written") = files.values.sum.toDouble
    ctx.counts("sink.files_written") = files.size.toDouble
    // the curation chain's layers, measured here rather than as a timed
    // workload of their own: a reference pass and one checked pass
    val curation = new CurationBatch(seed)
    curation.setup(ctx, 0)
    curation.warm(ctx)
    curation.step(ctx)
  }

  def opList(n: Int): Seq[String] =
    Seq.fill(n)(s"Pipeline.runAll(events=$EventRows, seed=$seed)")

  override def inputs: Seq[String] = Seq(s"$input/events.parquet")
}

/** `curation_batch`: repeated passes of the text and embedding curation
  * chains. Every stage is materialised, and its output checked against
  * the reference the setup computed. */
final class CurationBatch(seed: Long) extends Workload {
  val Scale = 1
  val DocRows: Int = 5000 * Scale
  val VecRows: Int = 2000 * Scale
  val InputFiles = 8

  private var docsPath = ""
  private var embPath = ""
  private var ref = Map.empty[String, (Long, Long, Long)]

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/curation/r$rep"
    docsPath = s"$dir/documents.parquet"
    embPath = s"$dir/embeddings.parquet"
    Gen.writeShuffled(Gen.documents(spark, DocRows, seed), docsPath, InputFiles, seed, "doc_id")
    Gen.writeShuffled(Gen.embeddings(spark, VecRows, seed), embPath, InputFiles, seed, "vec_id")
    ref = Map.empty
  }

  /** The stage outputs a pass is checked on, keyed by stage: only
    * integer and string columns, which do not depend on float order. */
  private def keyed(df: DataFrame): DataFrame =
    df.select(df.schema.fields.filter(f => f.dataType match {
      case LongType | IntegerType | StringType | BooleanType => true
      case _ => false
    }).map(f => col(s"`${f.name}`")): _*)

  private def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val staged = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    def stage(name: String)(df: => DataFrame): DataFrame =
      Trace.span(name) { val d = df.localCheckpoint(); staged(name) = d; d }
    ctx.op("curation.pass", rows = DocRows + VecRows) {
      val docs = spark.read.parquet(docsPath)
      val emb = spark.read.parquet(embPath)
      stage("text.QualityFilters.filterFlags")(QualityFilters.filterFlags(docs))
      val pairs = stage("dedup.NearDup.jaccardPairs")(NearDup.jaccardPairs(docs))
      val clusters = stage("dedup.NearDup.duplicateClusters")(NearDup.duplicateClusters(pairs))
      stage("text.Curation.verdictsWith")(Curation.verdictsWith(docs, clusters))
      stage("dedup.NearDup.applyKeepList")(NearDup.applyKeepList(docs, clusters))
      stage("dedup.NearDup.minhashSignatures")(NearDup.minhashSignatures(docs))
      val cents = stage("sim.IvfAnn.centroids")(IvfAnn.centroids(emb))
      val cand = stage("sim.SemDedup.candidatePairs")(
        SemDedup.candidatePairs(emb, centsOpt = Some(cents)))
      stage("sim.SemDedup.dropsFromPairs")(SemDedup.dropsFromPairs(cand))
    }.foreach { _ =>
      // fingerprints outside the timed window
      val out = staged.map { case (name, d) =>
        val checked = if (ctx.plant == "perturb_curation" && ref.nonEmpty &&
          name == "text.Curation.verdictsWith") Plant.perturb(d) else d
        name -> Util.fingerprint(keyed(checked))
      }.toMap
      if (ref.isEmpty) ref = out
      else out.foreach { case (name, fp) =>
        ctx.check(fp == ref(name), s"$name fingerprint $fp != reference ${ref(name)}")
      }
      ctx.annotate("pairs" -> out("dedup.NearDup.jaccardPairs")._1.toDouble,
        "candidates" -> out("sim.SemDedup.candidatePairs")._1.toDouble,
        "drops" -> out("sim.SemDedup.dropsFromPairs")._1.toDouble)
    }
  }

  def warm(ctx: Ctx): Unit = pass(ctx)
  def step(ctx: Ctx): Unit = pass(ctx)

  def opList(n: Int): Seq[String] = Seq.fill(n)(s"curation.pass(docs=$DocRows, vecs=$VecRows, seed=$seed)")

  override def inputs: Seq[String] = Seq(docsPath, embPath)
}
