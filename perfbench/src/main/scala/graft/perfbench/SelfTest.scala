package graft.perfbench

import java.io.File
import java.security.MessageDigest
import java.util.SplittableRandom

/** Self-tests of the benchmark itself (`python3 perfbench/run.py
  * --selftest`): seeded inputs are reproducible, the percentile helper
  * refuses thin tails, and every workload's check catches a planted
  * wrong answer. Exits 1 if any test fails.
  */
object SelfTest {

  private var failed = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch {
      case e: Exception =>
        println(s"  error: $e")
        false
    }
    if (!pass) failed += 1
    println(s"${if (pass) "PASS" else "FAIL"} $name")
  }

  private def digest(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Every input a workload generates from `seed`, as one string. */
  def inputs(seed: Long): Map[String, String] = Map(
    "repl_filter" -> ReplFilter.table(seed).csv,
    "snapshot_ops" -> (SnapshotOps.baseLines(seed).mkString("\n") +
      SnapshotOps.baseParts(seed).mkString("\n")),
    "snapshot_ops/index" -> (IndexOps.docs(seed, 0, IndexOps.NumDocs).mkString("\n") +
      IndexOps.vecs(seed, 0, IndexOps.NumVecs)
        .map(v => s"${v.vec_id} ${v.embedding.mkString(",")} ${v.label}").mkString("\n")))

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val workDir = kv("work-dir")
    val cores = kv.get("cores").map(_.toInt).getOrElse(2)

    val a1 = inputs(7L).map { case (k, v) => k -> digest(v) }
    val a2 = inputs(7L).map { case (k, v) => k -> digest(v) }
    val b = inputs(8L).map { case (k, v) => k -> digest(v) }
    for (w <- a1.keys.toSeq.sorted) {
      test(s"$w: the same seed gives byte-identical inputs")(a1(w) == a2(w))
      test(s"$w: another seed gives different inputs")(a1(w) != b(w))
    }

    val xs = (1 to 100).map(_.toDouble)
    test("percentile: p50 of 1..100 is 50 and p90 is 90")(
      Stats.percentile(xs, 0.5).contains(50.0) && Stats.percentile(xs, 0.9).contains(90.0))
    test("percentile: p50 needs 20 samples")(
      Stats.percentile(xs.take(19), 0.5).isEmpty && Stats.percentile(xs.take(20), 0.5).nonEmpty)
    test("percentile: p90 needs 100 samples")(
      Stats.percentile(xs.take(99), 0.9).isEmpty && Stats.percentile(xs, 0.9).nonEmpty)
    test("percentile: p99 of 100 samples is refused")(Stats.percentile(xs, 0.99).isEmpty)

    val spark = Main.session(cores, workDir)
    def harness(): Harness = {
      val args = Args("selftest", 7L, 1.0, trace = false, workDir, cores, "unknown", "unknown")
      new Harness(spark, args, new Tracer(false, spark.sparkContext), None)
    }

    // repl_filter: the engine's answer passes the model's check, and a
    // model with one row dropped or one error text changed fails it
    {
      val h = harness()
      val t = ReplFilter.table(7L)
      val m = new ReplFilter.Model(t)
      val f = new File(workDir, "selftest.csv")
      java.nio.file.Files.write(f.toPath, t.csv.getBytes("UTF-8"))
      val df = graft.Repl.loadTable(spark, f.getAbsolutePath).cache()
      val sorted = ReplFilter.Columns.map(c => c -> m.sortedValues(c)).toMap
      val rng = new SplittableRandom(7L)
      val range = Iterator.continually(ReplFilter.nextCase("range", rng, t, m, sorted))
        .find(_.expected.exists(_._2.size > 1)).get
      val error = ReplFilter.nextCase("error", rng, t, m, sorted)
      val gotRange = ReplFilter.answer(h, df, range.text)
      val gotError = ReplFilter.answer(h, df, error.text)
      test("repl_filter: the engine's answers pass the check")(
        ReplFilter.verify(range, gotRange).isEmpty && ReplFilter.verify(error, gotError).isEmpty)
      val lessRows = range.copy(expected = range.expected.map { case (hd, rs) => (hd, rs.tail) })
      val otherText = error.copy(expected = error.expected.left.map(_ + "!"))
      test("repl_filter: a planted wrong answer is caught")(
        ReplFilter.verify(lessRows, gotRange).nonEmpty &&
          ReplFilter.verify(otherText, gotError).nonEmpty)
      df.unpersist()
    }

    // snapshot_ops: reads and a view refresh checked against a model
    // whose quantities are all off by one
    {
      val h = harness()
      val dirs = SnapshotOps.Dirs(new File(workDir, "selftest-snap"))
      val base = SnapshotOps.baseLines(7L)
      val parts = SnapshotOps.baseParts(7L)
      val m = new SnapshotOps.Model(base, parts)
      SnapshotOps.create(h, dirs, m, base, parts)
      val rng = new SplittableRandom(7L)
      SnapshotOps.step(h, dirs, m, rng, "read_range_k")
      SnapshotOps.step(h, dirs, m, rng, "refresh_flag")
      test("snapshot_ops: the engine's answers pass the check")(h.failures.isEmpty)
      m.lines = m.lines.map { case (k, l) => k -> l.copy(qty = l.qty + 1) }
      for (kind <- Seq("read_range_k", "refresh_flag", "refresh_join")) {
        val before = h.failures.size
        SnapshotOps.step(h, dirs, m, rng, kind)
        test(s"snapshot_ops: a planted wrong answer is caught by $kind")(h.failures.size > before)
      }
    }

    // snapshot_ops/index: BM25 against a model missing documents, a
    // MinHash probe against altered texts, ANN recall against vectors
    // the index never saw
    {
      val h = harness()
      val dirs = IndexOps.Dirs(new File(workDir, "selftest-index"))
      val docs = IndexOps.docs(7L, 0, IndexOps.NumDocs)
      val vecs = IndexOps.vecs(7L, 0, IndexOps.NumVecs)
      spark.createDataFrame(docs).write.parquet(dirs.docsPath)
      spark.createDataFrame(vecs).write.parquet(dirs.vecsPath)
      IndexOps.build(h, dirs)
      val m = new IndexOps.Model(docs, vecs)
      val words = IndexOps.vocab(7L)
      val rng = new SplittableRandom(7L)
      for (kind <- Seq("bm25", "minhash", "ivf", "hnsw"))
        IndexOps.step(h, dirs, m, rng, kind, words)
      test("snapshot_ops/index: the engine's answers pass the check")(h.failures.isEmpty)
      m.text = m.text.filter { case (id, _) => id % 2 == 0 }
      m.minhash = m.minhash.map { case (id, d) => id -> d.copy(text = d.text.reverse) }
      val other = IndexOps.vecs(8L, 0, IndexOps.NumVecs)
        .map(v => v.vec_id -> v)
      m.ivf = scala.collection.immutable.TreeMap(other: _*)
      m.hnsw = m.ivf
      for (kind <- Seq("bm25", "minhash", "ivf", "hnsw")) {
        val before = h.failures.size
        IndexOps.step(h, dirs, m, rng, kind, words)
        test(s"snapshot_ops/index: a planted wrong answer is caught by $kind")(
          h.failures.size > before)
      }
    }

    spark.stop()
    println(if (failed == 0) "selftest: all passed" else s"selftest: $failed failed")
    System.out.flush()
    System.exit(if (failed == 0) 0 else 1)
  }
}
