package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{Snapshots, Views}

/** One row of the fact table: a lineitem-shaped record keyed by `k`. */
final case class Line(k: Long, pk: Long, qty: Long, price: Long, flag: String, day: Int)

/** One row of the dimension table the join view joins against. */
final case class Part(pk: Long, brand: String)

/** The snapshot layer under a read/write/refresh mix: a fact table with
  * stats and bloom columns, a dimension table, an aggregate view kept by
  * batch refresh, a second one kept by the streaming maintainer and a
  * join view, plus the four persisted index families ([[IndexOps]]),
  * which are snapshot tables too. A key → row model, versioned for time
  * travel, checks every read and every view.
  */
object SnapshotOps extends Workload {

  val BaseRows = 30000
  val Parts = 2000
  val Days = 2556
  val Flags = Vector("A", "N", "R")
  val Brands = (1 to 25).map(i => s"Brand#$i").toVector
  val SetupReps = 3
  val StatsCols = Seq("k", "day")
  val BloomCols = Seq("k")

  /** Span names of the write calls (see per-layer `snapshots.*`). */
  val WriteSpans = Seq("snapshots.commit", "snapshots.merge", "snapshots.cas",
    "snapshots.delete", "snapshots.compact")

  /** Calls of each read kind per cycle. A read costs about a sixth of a
    * write, so with this many the reads take about as large a share of a
    * cycle's operation time as the writes do (see README.md, "Operation
    * mix").
    */
  val ReadsPerKind = 8

  /** One cycle of the mix: reads and writes (with fixed batch-size
    * classes, narrow so the seed changes what a batch holds more than
    * how much) shuffled, then in this order a small append, one refresh
    * of each view and maintenance. Each refresh applies the cycle's
    * writes, and the compaction follows the refreshes. `expire` keeps
    * the version before the compaction, change feed included; with the
    * small append always last, that feed is the same size on every seed.
    */
  val Deck: Vector[String] =
    Vector("read_point", "read_range_k", "read_range_day", "read_asof")
      .flatMap(Vector.fill(ReadsPerKind)(_)) ++
    Vector("append_large", "merge", "delete_keys", "delete_range", "cas")
  val Tail: Vector[String] = Vector(
    "append_small", "refresh_flag", "refresh_join", "refresh_stream", "compact", "expire")

  def line(rng: SplittableRandom, k: Long): Line =
    Line(k, rng.nextInt(Parts).toLong, 1L + rng.nextInt(50), 100L + rng.nextInt(1000000),
      Flags(rng.nextInt(Flags.size)), rng.nextInt(Days))

  def baseLines(seed: Long): Vector[Line] = {
    val rng = new SplittableRandom(seed ^ 0x11eL)
    Vector.tabulate(BaseRows)(i => line(rng, i.toLong))
  }

  def baseParts(seed: Long): Vector[Part] = {
    val rng = new SplittableRandom(seed ^ 0xa47L)
    Vector.tabulate(Parts)(i => Part(i.toLong, Brands(rng.nextInt(Brands.size))))
  }


  /** Table directories of one set-up. */
  final case class Dirs(root: File) {
    val lines = new File(root, "lines").getAbsolutePath
    val parts = new File(root, "parts").getAbsolutePath
    val vFlag = new File(root, "v_flag").getAbsolutePath
    val vStream = new File(root, "v_stream").getAbsolutePath
    val vJoin = new File(root, "v_join").getAbsolutePath
    val ckpt = new File(root, "v_stream_ckpt").getAbsolutePath
  }

  /** What the tables must hold, per committed version of `lines`. */
  final class Model(base: Vector[Line], parts0: Vector[Part]) {
    var lines: TreeMap[Long, Line] = TreeMap(base.map(l => l.k -> l): _*)
    val parts: Map[Long, String] = parts0.map(p => p.pk -> p.brand).toMap
    var nextKey: Long = base.size.toLong
    /** Retained versions of `lines` and their contents. */
    val versions = mutable.TreeMap.empty[Long, TreeMap[Long, Line]]
    val commitTs = mutable.HashMap.empty[Long, Long]
    var tip = 0L
    /** Source version each view has applied. */
    var appliedFlag = 0L
    var appliedStream = 0L
    var appliedJoin = 0L

    def committed(dirs: Dirs, v: Long): Unit = {
      tip = v
      versions(v) = lines
      val f = new File(dirs.lines, s"snap-$v/_commit_ts")
      if (f.exists()) commitTs(v) = new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8).trim.toLong
    }

    def flagAgg(withMax: Boolean): Set[Seq[Any]] =
      lines.values.groupBy(_.flag).map { case (f, ls) =>
        Seq(f, ls.size.toLong, ls.iterator.map(_.qty).sum) ++
          (if (withMax) Seq(ls.iterator.map(_.price).max) else Nil)
      }.toSet

    def joinAgg: Set[Seq[Any]] =
      lines.values.groupBy(l => parts(l.pk)).map { case (b, ls) =>
        Seq(b, ls.size.toLong, ls.iterator.map(_.qty).sum)
      }.toSet
  }

  private def toLine(r: Row): Line =
    Line(r.getAs[Long]("k"), r.getAs[Long]("pk"), r.getAs[Long]("qty"),
      r.getAs[Long]("price"), r.getAs[String]("flag"), r.getAs[Int]("day"))

  private def linesDf(spark: SparkSession, ls: Seq[Line]): DataFrame =
    spark.createDataFrame(ls)

  private def feed(df: DataFrame, kind: String): DataFrame =
    df.select(lit(kind).as("change_type") +: df.columns.toSeq.map(col): _*)

  /** Creates the tables and views of one set-up under `dirs`. */
  def create(h: Harness, dirs: Dirs, m: Model, base: Vector[Line], parts: Vector[Part]): Unit = {
    val spark = h.spark
    val t = h.tracer
    val v = t.span("setup.commit")(Snapshots.commit(spark, linesDf(spark, base), dirs.lines,
      statsColumns = StatsCols, bloomColumns = BloomCols))
    m.committed(dirs, v)
    t.span("setup.commit")(Snapshots.commit(spark, spark.createDataFrame(parts), dirs.parts,
      statsColumns = Seq("pk")))
    t.span("setup.views") {
      Views.createView(spark, dirs.lines, dirs.vFlag, Seq("flag"), sumCols = Seq("qty"),
        maxCols = Seq("price"))
      Views.createView(spark, dirs.lines, dirs.vStream, Seq("flag"), sumCols = Seq("qty"))
      Views.createJoinView(spark, dirs.lines, dirs.parts, dirs.vJoin, Seq("pk"), Seq("brand"),
        sumCols = Seq("qty"))
    }
    m.appliedFlag = v
    m.appliedStream = v
    m.appliedJoin = v
  }

  /** Bytes and files a write added under the fact table. */
  private def writeCounters(h: Harness, dir: String, before: Map[String, Long]): Unit =
    if (h.tracer.enabled) {
      val after = Probe.listFiles(new File(dir))
      val added = after.keySet -- before.keySet
      h.tracer.count("snapshots.files_added",
        added.count(p => p.endsWith(".parquet") && !p.contains("/_")))
      h.tracer.count("snapshots.bytes_written", added.iterator.map(after).sum.toDouble)
    }

  /** Runs one operation of kind `kind` and checks its outcome. */
  def step(h: Harness, dirs: Dirs, m: Model, rng: SplittableRandom, kind: String): Unit = {
    val spark = h.spark
    val t = h.tracer
    def pickKey(): Long = {
      val lo = m.lines.firstKey
      val k = lo + (rng.nextLong() & Long.MaxValue) % (m.nextKey - lo)
      m.lines.rangeFrom(k).headOption.map(_._1).getOrElse(m.lines.lastKey)
    }
    def readBack(df: => DataFrame): Option[Set[Line]] =
      h.timed(kind)(t.span("snapshots.read")(df.collect().map(toLine).toSet))
    def expectRows(got: Option[Set[Line]], want: Iterable[Line], what: String): Unit =
      got.foreach(g => h.check(g == want.toSet,
        s"$what: got ${g.size} rows, want ${want.size}"))
    def write(span: String)(body: => Long): Option[Long] = {
      val before = if (t.enabled) Probe.listFiles(new File(dirs.lines)) else Map.empty[String, Long]
      val out = h.timed(kind)(t.span(span)(body))
      writeCounters(h, dirs.lines, before)
      out
    }
    def committed(out: Option[Long]): Unit = out.foreach { v =>
      h.check(v == m.tip + 1, s"$kind committed version $v, want ${m.tip + 1}")
      m.committed(dirs, v)
    }
    kind match {
      case "read_point" =>
        val k = if (rng.nextInt(10) == 0) m.nextKey + 7 else pickKey()
        expectRows(readBack(Snapshots.readPoint(spark, dirs.lines, "k", k)),
          m.lines.get(k), s"readPoint k=$k")
      case "read_range_k" =>
        val lo = pickKey()
        val hi = lo + 10 + rng.nextInt(2000)
        expectRows(readBack(Snapshots.readRange(spark, dirs.lines, "k", lo, hi)),
          m.lines.range(lo, hi + 1).values, s"readRange k in [$lo, $hi]")
      case "read_range_day" =>
        val lo = rng.nextInt(Days)
        val hi = lo + rng.nextInt(10)
        expectRows(readBack(Snapshots.readRange(spark, dirs.lines, "day", lo, hi)),
          m.lines.values.filter(l => l.day >= lo && l.day <= hi), s"readRange day in [$lo, $hi]")
      case "read_asof" =>
        // a retained older version whose successor committed strictly later
        val olds = m.versions.keys.filter(v => v < m.tip && m.commitTs.contains(v) &&
          m.commitTs.get(v + 1).forall(_ > m.commitTs(v))).toVector
        val v = if (olds.isEmpty) m.tip else olds(rng.nextInt(olds.size))
        val lo = pickKey()
        val hi = lo + 10 + rng.nextInt(2000)
        expectRows(readBack(Snapshots.readAsOf(spark, dirs.lines, m.commitTs(v))
            .filter(col("k").between(lo, hi))),
          m.versions(v).range(lo, hi + 1).values, s"readAsOf v=$v k in [$lo, $hi]")
      case "append_small" | "append_large" =>
        val n = if (kind == "append_small") 40 + rng.nextInt(21) else 22000 + rng.nextInt(1001)
        val batch = Vector.tabulate(n)(i => line(rng, m.nextKey + i))
        val out = write("snapshots.commit")(Snapshots.append(spark, dirs.lines,
          linesDf(spark, batch), StatsCols, BloomCols, recordChanges = true))
        if (out.nonEmpty) {
          m.lines ++= batch.map(l => l.k -> l)
          m.nextKey += n
        }
        committed(out)
      case "merge" =>
        // keyed upsert: three in four rows update existing keys
        val n = 1400 + rng.nextInt(201)
        val fresh = n / 4
        val updates = Vector.fill(n - fresh)(pickKey()).distinct.map { k =>
          m.lines(k).copy(qty = 1L + rng.nextInt(50), price = 100L + rng.nextInt(1000000),
            flag = Flags(rng.nextInt(Flags.size)))
        } ++ Vector.tabulate(fresh)(i => line(rng, m.nextKey + i))
        val out = write("snapshots.merge")(Snapshots.merge(spark, dirs.lines,
          linesDf(spark, updates), Seq("k"), StatsCols, BloomCols, recordChanges = true,
          scoped = true, preImages = true))
        if (out.nonEmpty) {
          m.lines ++= updates.map(l => l.k -> l)
          m.nextKey += fresh
        }
        committed(out)
      case "delete_keys" =>
        val lo = pickKey()
        val hi = lo + 400 + rng.nextInt(201)
        val out = write("snapshots.delete")(Snapshots.delete(spark, dirs.lines,
          col("k").between(lo, hi), StatsCols, BloomCols, recordChanges = true))
        if (out.nonEmpty) m.lines = m.lines.removedAll(m.lines.range(lo, hi + 1).keys)
        committed(out)
      case "delete_range" =>
        val lo = rng.nextInt(Days)
        val hi = lo + 1
        val out = write("snapshots.delete")(Snapshots.deleteRange(spark, dirs.lines, "day",
          lo, hi, StatsCols, BloomCols, recordChanges = true))
        if (out.nonEmpty) m.lines = m.lines.filter { case (_, l) => l.day < lo || l.day > hi }
        committed(out)
      case "cas" =>
        // compare-and-swap append: the whole next state, claimed only if
        // the table is still at the version it was derived from
        val n = 200 + rng.nextInt(101)
        val batch = Vector.tabulate(n)(i => line(rng, m.nextKey + i))
        val out = write("snapshots.cas") {
          val add = linesDf(spark, batch)
          Snapshots.commitIfVersion(spark, Snapshots.read(spark, dirs.lines).unionByName(add),
            dirs.lines, m.tip, StatsCols, changes = Some(feed(add, "insert")),
            bloomColumns = BloomCols).getOrElse(-1L)
        }
        if (out.nonEmpty) {
          m.lines ++= batch.map(l => l.k -> l)
          m.nextKey += n
        }
        committed(out)
      case "refresh_flag" =>
        h.timed(kind)(t.span("views.refresh")(Views.refreshView(spark, dirs.lines, dirs.vFlag)))
          .foreach { _ =>
            m.appliedFlag = m.tip
            val got = Views.readView(spark, dirs.vFlag)
              .select("flag", "n_rows", "sum_qty", "max_price").collect().map(_.toSeq).toSet
            h.check(got == m.flagAgg(withMax = true), s"flag view: got $got")
          }
      case "refresh_join" =>
        h.timed(kind)(t.span("views.join_refresh")(Views.refreshJoinView(spark, dirs.vJoin)))
          .foreach { _ =>
            m.appliedJoin = m.tip
            val got = Views.readJoinView(spark, dirs.vJoin)
              .select("brand", "n_rows", "sum_qty").collect().map(_.toSeq).toSet
            h.check(got == m.joinAgg, s"join view: ${(got -- m.joinAgg).size} groups differ")
          }
      case "refresh_stream" =>
        h.timed(kind)(t.span("views.stream_refresh") {
          val q = Views.streamRefreshView(spark, dirs.lines, dirs.vStream, dirs.ckpt,
            Trigger.AvailableNow())
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }).foreach { _ =>
          m.appliedStream = m.tip
          val got = Views.readView(spark, dirs.vStream)
            .select("flag", "n_rows", "sum_qty").collect().map(_.toSeq).toSet
          h.check(got == m.flagAgg(withMax = false), s"stream view: got $got")
        }
      case "compact" =>
        // a compaction commits a version that records no change feed, so
        // a later refresh of a view over the table fails (README.md,
        // "Known engine defect"); a run of one cycle refreshes no more
        committed(write("snapshots.compact")(Snapshots.compact(spark, dirs.lines,
          statsColumns = StatsCols, bloomColumns = BloomCols)))
      case "expire" =>
        // keep every version a view still refreshes from
        val keepFrom = Seq(m.appliedFlag, m.appliedStream, m.appliedJoin).min
        val keep = (m.tip - keepFrom + 1).toInt
        h.timed(kind)(t.span("snapshots.expire")(Snapshots.expire(spark, dirs.lines, keep)))
          .foreach { gone =>
            gone.foreach { v => m.versions.remove(v); m.commitTs.remove(v) }
            h.check(gone.forall(_ < keepFrom), s"expire($keep) removed ${gone.max} >= $keepFrom")
          }
    }
  }

  def run(h: Harness): Double = {
    val seed = h.args.seed
    var dirs: Dirs = null
    var model: Model = null
    val idxDirs = IndexOps.Dirs(new File(h.dataDir, "index"))
    var idx: IndexOps.Model = null
    // set-up, repeated: the tables and views, and the index corpus
    val setupS = h.setupReps(SetupReps) { rep =>
      if (dirs != null) deleteTree(dirs.root)
      dirs = Dirs(new File(h.dataDir, s"snap-$rep"))
      val base = baseLines(seed)
      val parts = baseParts(seed)
      model = new Model(base, parts)
      create(h, dirs, model, base, parts)
      idx = IndexOps.corpus(h, idxDirs)
    }
    // the index builds run once; a slower build shows in setup_s
    val t0 = System.nanoTime()
    IndexOps.build(h, idxDirs)
    val buildS = (System.nanoTime() - t0) / 1e9
    h.extras("index_build_s") = buildS
    val words = IndexOps.vocab(seed)
    val indexKinds = (IndexOps.Deck ++ IndexOps.Tail).toSet
    val rng = new SplittableRandom(seed)
    // disk_mb counts what the engine wrote: the tables, views and
    // indexes, not the corpus files the indexes were built from
    val written = dirs.root +: IndexOps.Families.map(f => new File(idxDirs.of(f)))
    h.loop(written, Deck ++ IndexOps.Deck, Tail ++ IndexOps.Tail, rng) {
      kind =>
        if (indexKinds(kind)) IndexOps.step(h, idxDirs, idx, rng, kind, words)
        else step(h, dirs, model, rng, kind)
    }
    h.extras("ann_recall_at_10") = IndexOps.recall(h)
    setupS + buildS
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
