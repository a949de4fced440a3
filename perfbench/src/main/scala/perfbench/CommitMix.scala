package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.sources.{BloomSkip, IncrementalMart, Snapshots}

/** A row of the benchmark's commit tables; `day` is days since 1970-01-01. */
final case class TRow(id: Long, grp: Int, amount: Long, day: Int)

object TRow {
  val Day0 = 19723 // 2024-01-01

  /** The same hash Spark's `xxhash64(id, grp, amount, day)` computes. */
  def hash(r: TRow): Long = {
    var h = 42L
    h = XXH64.hashLong(r.id, h); h = XXH64.hashInt(r.grp, h)
    h = XXH64.hashLong(r.amount, h); XXH64.hashInt(r.day, h)
  }

  /** [[Util.fingerprint]] of a set of rows, computed without Spark. */
  def fingerprint(rows: Iterable[TRow]): (Long, Long, Long) =
    rows.foldLeft((0L, 0L, 0L)) { case ((n, s, x), r) =>
      val h = hash(r)
      (n + 1, s + ((h % Util.Prime) + Util.Prime) % Util.Prime, x ^ h)
    }

  def frame(spark: SparkSession, rows: Seq[TRow]): DataFrame =
    spark.createDataFrame(rows).select(col("id"), col("grp"), col("amount"),
      date_from_unix_date(col("day")).as("day"))

  def sqlDate(day: Int): String = s"DATE '${java.time.LocalDate.ofEpochDay(day.toLong)}'"
}

/** One operation of the seeded commit schedule. */
sealed trait CommitOp { def kind: String; def rows: Long }
object CommitOp {
  final case class Insert(add: Seq[TRow]) extends CommitOp {
    def kind = "catalog.insert"; def rows: Long = add.size.toLong
    override def toString = s"insert(${add.size} rows, ids ${add.head.id}..${add.last.id})"
  }
  final case class Delete(lo: Long, hi: Long, mor: Boolean, rows: Long) extends CommitOp {
    def kind: String = if (mor) "catalog.delete_mor" else "catalog.delete_cow"
    override def toString = s"$kind(id between $lo and $hi: $rows rows)"
  }
  final case class Update(grp: Int, delta: Long, rows: Long) extends CommitOp {
    def kind = "catalog.update"
    override def toString = s"update(grp=$grp amount+=$delta: $rows rows)"
  }
  final case class Merge(src: Seq[TRow]) extends CommitOp {
    def kind = "catalog.merge"; def rows: Long = src.size.toLong
    override def toString = s"merge(${src.size} rows, ids ${src.map(_.id).sorted.mkString(",").take(60)})"
  }
  final case class Upsert(src: Seq[TRow]) extends CommitOp {
    def kind = "snapshots.upsertBatch"; def rows: Long = src.size.toLong
    override def toString = s"upsert(${src.size} rows, ids ${src.map(_.id).sorted.mkString(",").take(60)})"
  }
  case object Compact extends CommitOp { def kind = "snapshots.compact"; def rows = 0L }
  final case class Expire(keepLast: Int) extends CommitOp {
    def kind = "snapshots.expireSnapshots"; def rows = 0L
  }
  case object Refresh extends CommitOp { def kind = "ivm.refresh"; def rows = 0L }
}

/** The seeded generator of the commit schedule and the in-memory model
  * of the table it drives. A burst is insert, copy-on-write delete,
  * update, merge-on-read delete, merge and keyed upsert, then a mart
  * refresh, a compaction and a snapshot expiry. Inserts balance
  * deletes, so the live row count stays near [[CommitGen.InitRows]],
  * and every burst is the same mix. */
final class CommitGen(seed: Long) {
  import CommitGen._
  import CommitOp._

  private val rnd = new scala.util.Random(seed)
  var model: TreeMap[Long, TRow] = TreeMap.empty
  private var nextId = 0L
  private var queue = List.empty[() => CommitOp]

  private def fresh(): TRow = {
    val r = TRow(nextId, rnd.nextInt(Groups), rnd.nextInt(1000).toLong, TRow.Day0 + rnd.nextInt(30))
    nextId += 1; r
  }

  def initial(): Seq[TRow] = {
    val rows = Seq.fill(InitRows)(fresh())
    model = TreeMap(rows.map(r => r.id -> r): _*)
    rows
  }

  /** A contiguous id range holding exactly `k` live rows, at a random
    * position. */
  private def range(k: Int): (Long, Long) = {
    val start = rnd.nextInt(math.max(1, model.size - k))
    val ids = model.keysIterator.slice(start, start + k).toSeq
    (ids.head, ids.last)
  }

  /** `n` rows for a merge or upsert: half rewrite live rows, half are new. */
  private def mixed(n: Int): Seq[TRow] = {
    val keys = model.keysIterator.toIndexedSeq
    val old = rnd.shuffle(keys).take(n / 2).map(id =>
      model(id).copy(amount = rnd.nextInt(1000).toLong, grp = rnd.nextInt(Groups)))
    old ++ Seq.fill(n - n / 2)(fresh())
  }

  /** One burst; each operation's parameters are drawn when it is taken,
    * against the live model. */
  private def burstOps(): List[() => CommitOp] = {
    List[() => CommitOp](
      () => Insert(Seq.fill(InsertRows)(fresh())),
      () => { val (lo, hi) = range(DeleteRows); Delete(lo, hi, mor = false, DeleteRows) },
      () => {
        val g = rnd.nextInt(Groups)
        Update(g, 1L + rnd.nextInt(50), model.valuesIterator.count(_.grp == g).toLong)
      },
      () => { val (lo, hi) = range(DeleteRows); Delete(lo, hi, mor = true, DeleteRows) },
      () => Merge(mixed(MergeRows)),
      () => Upsert(mixed(UpsertRows)),
      () => Refresh,
      () => Compact,
      () => Expire(KeepLast))
  }

  /** The next operation, already applied to the model. */
  def next(): CommitOp = {
    if (queue.isEmpty) queue = burstOps()
    val op = queue.head()
    queue = queue.tail
    apply(op)
    op
  }

  private def apply(op: CommitOp): Unit = op match {
    case Insert(add) => model ++= add.map(r => r.id -> r)
    case Delete(lo, hi, _, _) => model = model.removedAll(model.range(lo, hi + 1).keys)
    case Update(g, d, _) =>
      model = model.map { case (id, r) => id -> (if (r.grp == g) r.copy(amount = r.amount + d) else r) }
    case Merge(src) => model ++= src.map(r => r.id -> r)
    case Upsert(src) => model ++= src.map(r => r.id -> r)
    case _ => ()
  }
}

object CommitGen {
  val InitRows = 4000
  val Groups = 32
  val InsertRows = 230
  val DeleteRows = 150
  val MergeRows = 60
  val UpsertRows = 80
  val KeepLast = 8
}

/** `commit_mix`: a closed loop of one client over a changelog-enabled
  * catalog table with an incremental mart defined over it. */
final class CommitMix(seed: Long) extends Workload {
  import CommitOp._

  private var gen: CommitGen = _
  private var table = ""
  private var path = ""
  private var mart = ""
  /** Expected fingerprint of every committed version, from the model. */
  private val expected = scala.collection.mutable.HashMap.empty[Long, (Long, Long, Long)]
  private var opsDone = 0
  private var burst = 0

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    val warehouse = Util.catalog(ctx)
    gen = new CommitGen(seed)
    expected.clear()
    table = s"graft.bench.cm_r$rep"
    path = s"$warehouse/bench/cm_r$rep"
    mart = s"${ctx.work}/marts/cm_mart_r$rep"
    TRow.frame(spark, gen.initial()).createOrReplaceTempView("pb_init")
    spark.sql(s"CREATE TABLE $table TBLPROPERTIES('graft.changelog.keys'='id') " +
      "AS SELECT /*+ COALESCE(1) */ * FROM pb_init")
    require(Files.isDirectory(Paths.get(path)), s"table directory $path missing")
    expected(Snapshots.versions(path).last) = TRow.fingerprint(gen.model.values)
    Files.createDirectories(Paths.get(mart))
    BloomSkip.enable(mart, Seq("grp"))
    val t0 = Clock.ms()
    IncrementalMart.initialize(spark, path, mart, dims = Seq("grp"), sums = Seq("amount"), bandFiles = 4)
    ctx.counts("ivm.initialize_s") = (Clock.ms() - t0) / 1e3
    opsDone = 0
    burst = 0
    // the steady-state series start from the table setup built
    ctx.series.clear()
    recordState(ctx)
  }

  /** The untimed JIT pass: two full bursts with their checks. */
  def warm(ctx: Ctx): Unit = { step(ctx); step(ctx) }

  /** One whole burst, so every measured window holds the same mix. */
  def step(ctx: Ctx): Unit = {
    burst += 1
    var done = false
    while (!done) done = runNext(ctx).isInstanceOf[Expire]
  }

  private def runNext(ctx: Ctx): CommitOp = {
    val spark = ctx.spark
    val op = gen.next()
    if (ctx.plant == "drop_model_row" && opsDone == 3)
      gen.model = gen.model.tail // the in-memory model loses one row
    opsDone += 1
    // the live files peak just before compaction
    if (op == Compact) ctx.record("live_files", liveFiles(spark).toDouble)
    val before = if (ctx.traced) walk() else Map.empty[String, Long]
    ctx.op(op.kind, op.rows) {
      // the harness registers the source rows; the span is the call
      // into the catalog, Snapshots or IncrementalMart
      def layer[A](body: => A): A = Trace.span(op.kind)(body)
      op match {
        case Insert(add) =>
          TRow.frame(spark, add).createOrReplaceTempView("pb_src")
          layer(spark.sql(s"INSERT INTO $table SELECT /*+ COALESCE(1) */ * FROM pb_src"))
        case Delete(lo, hi, mor, _) =>
          if (mor) spark.conf.set("spark.graft.delete.mode", "merge-on-read")
          try layer(spark.sql(s"DELETE FROM $table WHERE id BETWEEN $lo AND $hi"))
          finally spark.conf.set("spark.graft.delete.mode", "copy-on-write")
        case Update(g, d, _) =>
          layer(spark.sql(s"UPDATE $table SET amount = amount + $d WHERE grp = $g"))
        case Merge(src) =>
          TRow.frame(spark, src).createOrReplaceTempView("pb_src")
          layer(spark.sql(s"MERGE INTO $table t USING pb_src s ON t.id = s.id " +
            "WHEN MATCHED THEN UPDATE SET grp = s.grp, amount = s.amount, day = s.day " +
            "WHEN NOT MATCHED THEN INSERT *"))
        case Upsert(src) =>
          val frame = TRow.frame(spark, src).coalesce(1)
          layer(Snapshots.upsertBatch(spark, path, frame, Seq("id")))
        case Compact => layer(Snapshots.compact(spark, path))
        case Expire(k) => layer(Snapshots.expireSnapshots(spark, path, k))
        case Refresh => layer(IncrementalMart.refresh(spark, mart))
      }
    }
    ctx.annotate("burst" -> burst.toDouble)
    op match {
      case Expire(_) | Refresh => ()
      case _ => expected(Snapshots.versions(path).last) = TRow.fingerprint(gen.model.values)
    }
    if (ctx.traced) {
      val (bytes, files) = Util.written(before, walk())
      ctx.annotate("bytes_written" -> bytes.toDouble, "files_written" -> files.toDouble)
    }
    if (op.isInstanceOf[Expire]) checkBurst(ctx)
    op
  }

  private def walk(): Map[String, Long] =
    Util.walk(path).map { case (p, n) => s"t/$p" -> n } ++
      Util.walk(mart).map { case (p, n) => s"m/$p" -> n }

  /** After each burst: the head equals the model, and the mart (last
    * refreshed in this burst; compaction and expiry leave the rows as
    * they were) equals a full group-by rebuild of the model. A mismatch
    * marks the burst's last operation as a wrong answer. */
  private def checkBurst(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val head = Util.fingerprint(Snapshots.readLatest(spark, path).select("id", "grp", "amount", "day"))
    val want = TRow.fingerprint(gen.model.values)
    ctx.check(head == want, s"head fingerprint $head != model $want")
    val rebuilt = gen.model.values.groupBy(_.grp).map { case (g, rs) =>
      g -> (rs.size.toLong, rs.map(_.amount).sum, rs.size.toLong) }
    val got = Snapshots.readLatest(spark, mart).filter(col("row_count") > 0)
      .select("grp", "row_count", "sum_amount", "nn_amount").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), asLong(r.get(2)), r.getLong(3))).toMap
    ctx.check(got == rebuilt, s"mart after refresh differs from a rebuild in " +
      s"${(got.keySet ++ rebuilt.keySet).count(g => got.get(g) != rebuilt.get(g))} groups")
    recordState(ctx)
  }

  /** The table's live rows and live data files, after setup and after
    * every burst of every phase (live files also before each
    * compaction): the steady-state band. */
  private def recordState(ctx: Ctx): Unit = {
    ctx.record("live_rows", gen.model.size.toDouble)
    ctx.record("live_files", liveFiles(ctx.spark).toDouble)
  }

  private def asLong(v: Any): Long = v match {
    case d: java.math.BigDecimal => d.longValueExact()
    case n: java.lang.Number => n.longValue()
  }

  private def liveFiles(spark: SparkSession): Long =
    spark.sql(s"SELECT count(*) FROM $table.files").collect()(0).getLong(0)

  /** Traced run only: the read chain over a table built with the same
    * commit API, one pass of the lookup schedule. */
  override def attribution(ctx: Ctx): Unit = {
    val lookup = new LookupMix(seed)
    lookup.setup(ctx, 0)
    lookup.warm(ctx)
    (1 to lookup.ScheduleLength).foreach(_ => lookup.step(ctx))
  }

  /** Every live version equals the model's state at that version; in the
    * traced run, also the end-of-run space counts. */
  override def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val live = Snapshots.versions(path)
    live.filter(expected.contains).foreach { v =>
      val got = Util.fingerprint(Snapshots.readAsOf(spark, path, v).select("id", "grp", "amount", "day"))
      if (got != expected(v)) ctx.wrongRun(s"version $v fingerprint $got != model ${expected(v)}")
    }
    ctx.counts("versions_checked") = live.count(expected.contains).toDouble
    if (ctx.tracedRun) {
      val v = live.last
      ctx.counts("commit.files_live") = liveFiles(spark).toDouble
      ctx.counts("commit.delete_files_live") =
        (Snapshots.liveDeletes(path, v).size + Snapshots.liveEqDeletes(path, v).size).toDouble
      ctx.counts("commit.manifest_bytes") =
        Util.walk(path).filter(_._1.endsWith(".json")).values.sum.toDouble
      val onDisk = Util.bytes(path)
      val once = s"${ctx.work}/space_amp_head"
      Snapshots.readLatest(spark, path).coalesce(1).write.mode("overwrite").parquet(once)
      val compacted = Util.walk(once).filter(_._1.endsWith(".parquet")).values.sum
      ctx.counts("space_amp") = onDisk.toDouble / compacted
      ctx.counts("warehouse_bytes") = onDisk.toDouble
      ctx.counts("head_compacted_bytes") = compacted.toDouble
    }
  }

  def opList(n: Int): Seq[String] = {
    val g = new CommitGen(seed)
    g.initial()
    Seq.fill(n)(g.next().toString)
  }
}
