package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Hnsw, IndexMaintenance, Similarity, TextAnalysis}

/** A document of the text corpus. */
final case class Doc(doc_id: Long, text: String, lang: String)

/** A vector of the embedding corpus. */
final case class Vec(vec_id: Long, embedding: Seq[Float], label: Int)

/** The index families of `snapshot_ops`: the persisted text inverted,
  * MinHash, IVF and HNSW indexes over a 5 k-document corpus and 2 k
  * vectors, built once in set-up, then top-k serves with small add and
  * remove batches mixed in. Checks: persisted BM25 equals the scan-path
  * BM25 over the same live corpus, a MinHash probe of an indexed text
  * finds that document, and ANN recall@10 against the benchmark's own
  * brute force meets a floor.
  */
object IndexOps {

  val NumDocs = 5000
  val NumVecs = 2000
  val Dim = 64
  val Clusters = 10
  val VocabSize = 400
  val QueryBatch = 8
  val TopK = 10
  /** Recall@10 floors per serve call (batch mean), set well under what
    * the current indexes reach on these vectors.
    */
  val IvfRecallFloor = 0.5
  val HnswRecallFloor = 0.8
  val IvfProbe = 4

  /** One cycle: serves of every family and one add batch per family,
    * shuffled, then one removal from each family.
    */
  val Deck: Vector[String] = Vector("bm25", "minhash", "ivf", "hnsw",
    "add_text", "add_minhash", "add_ivf", "add_hnsw")
  val Families = Vector("text", "minhash", "ivf", "hnsw")
  val Tail: Vector[String] = Families.map("remove_" + _)

  /** Pseudo-words; the letters depend on the seed. The word at rank r
    * has 3 + r % 6 letters, so the corpus size does not.
    */
  def vocab(seed: Long): Vector[String] = {
    val rng = new SplittableRandom(seed ^ 0x70cabL)
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < VocabSize)
      words += (0 until 3 + words.size % 6).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    words.toVector
  }

  /** Zipf-like draw: low ranks far more frequent than high ones. */
  def zipf(rng: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.pow(n + 1.0, rng.nextDouble()) - 1).toInt)

  def text(rng: SplittableRandom, words: Vector[String]): String =
    Vector.fill(10 + rng.nextInt(91))(words(zipf(rng, words.size))).mkString(" ")

  def docs(seed: Long, from: Long, n: Int): Vector[Doc] = {
    val rng = new SplittableRandom(seed ^ (0xd0c5L + from))
    val words = vocab(seed)
    val langs = Vector("en", "de", "fr", "es", "zh")
    (0 until n).foldLeft(Vector.empty[Doc]) { (acc, i) =>
      // one document in twenty is a near copy of an earlier one
      val t = if (acc.nonEmpty && rng.nextInt(20) == 0) {
        val ws = acc(rng.nextInt(acc.size)).text.split(" ")
        ws(rng.nextInt(ws.length)) = words(rng.nextInt(words.size))
        ws.mkString(" ")
      } else text(rng, words)
      acc :+ Doc(from + i, t, langs(rng.nextInt(langs.size)))
    }
  }

  def centers(seed: Long): Vector[Array[Double]] = {
    val rng = new SplittableRandom(seed ^ 0xce27L)
    Vector.fill(Clusters)(Array.fill(Dim)(rng.nextDouble() * 2 - 1))
  }

  /** Unit vectors scattered around the seed's cluster centres. */
  def vecs(seed: Long, from: Long, n: Int): Vector[Vec] = {
    val rng = new SplittableRandom(seed ^ (0x7ecL + from))
    val cs = centers(seed)
    Vector.tabulate(n) { i =>
      val c = rng.nextInt(Clusters)
      Vec(from + i, unit(cs(c).map(_ + gauss(rng) * 0.35)), c)
    }
  }

  def gauss(rng: SplittableRandom): Double = {
    val u = math.max(1e-12, rng.nextDouble())
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  def unit(v: Array[Double]): Seq[Float] = {
    val n = math.sqrt(v.iterator.map(x => x * x).sum)
    v.iterator.map(x => (x / n).toFloat).toVector
  }

  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.size) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k neighbour ids of `q` among `live`. */
  def exactTopK(q: Seq[Float], live: Iterable[Vec], k: Int): Set[Long] =
    live.toVector.map(v => (v.vec_id, cosine(q, v.embedding)))
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet

  final case class Dirs(root: File) {
    def of(family: String): String = new File(root, s"idx_$family").getAbsolutePath
    val docsPath = new File(root, "documents.parquet").getAbsolutePath
    val vecsPath = new File(root, "embeddings.parquet").getAbsolutePath
  }

  /** The live contents of every index family. */
  final class Model(docs0: Vector[Doc], vecs0: Vector[Vec]) {
    var text: TreeMap[Long, Doc] = TreeMap(docs0.map(d => d.doc_id -> d): _*)
    var minhash: TreeMap[Long, Doc] = text
    var ivf: TreeMap[Long, Vec] = TreeMap(vecs0.map(v => v.vec_id -> v): _*)
    var hnsw: TreeMap[Long, Vec] = ivf
    var nextDoc: Long = docs0.size.toLong
    var nextVec: Long = vecs0.size.toLong
    var probeId: Long = 1000000000L
    /** Families with a retraction not yet folded into their tables. */
    var unfolded = Set.empty[String]
  }

  private def docsDf(spark: SparkSession, ds: Seq[Doc]): DataFrame = spark.createDataFrame(ds)
  private def vecsDf(spark: SparkSession, vs: Seq[Vec]): DataFrame = spark.createDataFrame(vs)

  /** Builds the four indexes from the corpus files. */
  def build(h: Harness, dirs: Dirs): Unit = {
    val spark = h.spark
    val t = h.tracer
    val d = spark.read.parquet(dirs.docsPath)
    val v = spark.read.parquet(dirs.vecsPath)
    t.span("operators.text_build")(TextAnalysis.buildTextIndex(spark, d, dirs.of("text")))
    t.span("operators.minhash_build")(Dedup.buildMinhashIndex(spark, d, dirs.of("minhash")))
    t.span("operators.ivf_build")(Similarity.buildIvfIndex(spark, v, dirs.of("ivf")))
    t.span("operators.hnsw_build")(Hnsw.buildHnswIndex(spark, v, dirs.of("hnsw")))
  }

  /** Query vectors near live vectors, with ids no corpus vector has. */
  private def queries(rng: SplittableRandom, m: Model, live: TreeMap[Long, Vec]): Vector[Vec] = {
    val ids = live.keys.toVector
    Vector.fill(QueryBatch) {
      val base = live(ids(rng.nextInt(ids.size)))
      m.probeId += 1
      Vec(m.probeId, unit(base.embedding.map(_ + gauss(rng) * 0.02).toArray), base.label)
    }
  }

  def step(h: Harness, dirs: Dirs, m: Model, rng: SplittableRandom, kind: String,
      words: Vector[String]): Unit = {
    val spark = h.spark
    val t = h.tracer
    kind match {
      case "bm25" =>
        val terms = Vector.fill(1 + rng.nextInt(3))(words(zipf(rng, words.size))).distinct
        h.timed(kind)(t.span("operators.bm25_serve")(
          TextAnalysis.bm25TopKPersisted(spark, dirs.of("text"), terms).collect().toSet))
          .foreach { got =>
            val want = TextAnalysis.bm25TopK(docsDf(spark, m.text.values.toSeq), terms)
              .collect().toSet
            h.check(got == want, s"bm25 ${terms.mkString(" ")}: persisted ${got.size} rows" +
              s" differ from the scan path's ${want.size}")
          }
      case "minhash" =>
        val ids = m.minhash.keys.toVector
        val probes = Vector.fill(2) {
          m.probeId += 1
          val src = m.minhash(ids(rng.nextInt(ids.size)))
          (src.doc_id, Doc(m.probeId, src.text, src.lang))
        }
        h.timed(kind)(t.span("operators.minhash_probe")(
          Dedup.minhashProbe(spark, docsDf(spark, probes.map(_._2)), dirs.of("minhash"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet))
          .foreach { got =>
            probes.foreach { case (src, p) =>
              val a = math.min(src, p.doc_id)
              val b = math.max(src, p.doc_id)
              h.check(got.exists(x => x._1 == a && x._2 == b && x._3 == 1.0),
                s"minhash self-probe of doc $src not found")
            }
          }
      case "ivf" | "hnsw" =>
        val live = if (kind == "ivf") m.ivf else m.hnsw
        val qs = queries(rng, m, live)
        val qdf = vecsDf(spark, qs)
        h.timed(kind)(t.span(s"operators.${kind}_serve") {
          val df =
            if (kind == "ivf") Similarity.ivfTopKPersisted(spark, dirs.of("ivf"), qdf, k = TopK,
              nProbe = IvfProbe)
            else Hnsw.hnswTopKPersisted(spark, dirs.of("hnsw"), qdf, k = TopK)
          df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        }).foreach { got =>
          val byQuery = got.groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
          val recall = qs.map { q =>
            val exact = exactTopK(q.embedding, live.values, TopK)
            byQuery.getOrElse(q.vec_id, Set.empty).intersect(exact).size.toDouble / TopK
          }.sum / qs.size
          h.extras("recall_sum") = h.extras.getOrElse("recall_sum", 0.0) + recall
          h.extras("recall_calls") = h.extras.getOrElse("recall_calls", 0.0) + 1
          val floor = if (kind == "ivf") IvfRecallFloor else HnswRecallFloor
          h.check(recall >= floor, f"$kind recall@10 $recall%.3f under the floor $floor")
        }
      case add if add.startsWith("add_") =>
        val fam = add.stripPrefix("add_")
        val n = 20 + rng.nextInt(11)
        // an add over an unfolded retraction is refused by the engine:
        // fold it first, as any client must
        def fold(): Unit = if (m.unfolded(fam))
          t.span("operators.compact")(IndexMaintenance.compactIndex(spark, dirs.of(fam)))
        if (fam == "text" || fam == "minhash") {
          val ds = docs(h.args.seed, m.nextDoc, n)
          h.timed(kind)(t.span("operators.add") {
            fold()
            if (fam == "text") TextAnalysis.addToTextIndex(spark, docsDf(spark, ds), dirs.of(fam))
            else Dedup.addToMinhashIndex(spark, docsDf(spark, ds), dirs.of(fam))
          }).foreach { _ =>
            val added = ds.map(d => d.doc_id -> d)
            if (fam == "text") m.text ++= added else m.minhash ++= added
            m.unfolded -= fam
          }
          m.nextDoc += n
        } else {
          val vs = vecs(h.args.seed, m.nextVec, n)
          h.timed(kind)(t.span("operators.add") {
            fold()
            if (fam == "ivf") Similarity.addToIvfIndex(spark, vecsDf(spark, vs), dirs.of(fam))
            else Hnsw.addToHnswIndex(spark, vecsDf(spark, vs), dirs.of(fam))
          }).foreach { _ =>
            val added = vs.map(v => v.vec_id -> v)
            if (fam == "ivf") m.ivf ++= added else m.hnsw ++= added
            m.unfolded -= fam
          }
          m.nextVec += n
        }
      case remove if remove.startsWith("remove_") =>
        val fam = remove.stripPrefix("remove_")
        val live: Vector[Long] = fam match {
          case "text" => m.text.keys.toVector
          case "minhash" => m.minhash.keys.toVector
          case "ivf" => m.ivf.keys.toVector
          case _ => m.hnsw.keys.toVector
        }
        val ids = Vector.fill(3)(live(rng.nextInt(live.size))).distinct
        h.timed(kind)(t.span("operators.remove") {
          fam match {
            case "text" => TextAnalysis.removeFromTextIndex(spark, dirs.of(fam), ids)
            case "minhash" => Dedup.removeFromMinhashIndex(spark, dirs.of(fam), ids)
            case "ivf" => Similarity.removeFromIvfIndex(spark, dirs.of(fam), ids)
            case _ => Hnsw.removeFromHnswIndex(spark, dirs.of(fam), ids)
          }
        }).foreach { _ =>
          fam match {
            case "text" => m.text = m.text.removedAll(ids)
            case "minhash" => m.minhash = m.minhash.removedAll(ids)
            case "ivf" => m.ivf = m.ivf.removedAll(ids)
            case _ => m.hnsw = m.hnsw.removedAll(ids)
          }
          m.unfolded += fam
        }
    }
  }

  /** Generates the corpus for `seed` and writes it as parquet. */
  def corpus(h: Harness, dirs: Dirs): Model = {
    val spark = h.spark
    val (ds, vs) = (docs(h.args.seed, 0, NumDocs), vecs(h.args.seed, 0, NumVecs))
    docsDf(spark, ds).write.mode("overwrite").parquet(dirs.docsPath)
    vecsDf(spark, vs).write.mode("overwrite").parquet(dirs.vecsPath)
    new Model(ds, vs)
  }

  /** Mean recall@10 of the ANN serves this harness timed. */
  def recall(h: Harness): Double =
    h.extras.getOrElse("recall_sum", 0.0) / math.max(1.0, h.extras.getOrElse("recall_calls", 0.0))
}
