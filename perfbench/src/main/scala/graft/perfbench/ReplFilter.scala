package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame

import graft.Repl
import graft.core.{Executor, QueryParser}

/** The paper's workload: one CSV table loaded through the REPL's load
  * path, then `PROJECT … FILTER …` queries, each going
  * `QueryParser.parse` → `Executor.execute` → `Repl.render`.
  *
  * The table has the reference's column kinds: all-digit columns that
  * promote to Long (one with leading zeros), text columns, decimal-
  * looking text (`891.8`), a mostly-digit column with a few text cells
  * and a 19-digit column, both of which stay text, and a column with
  * empty cells. The expected answer of every query comes from the
  * benchmark's own copy of the rows under the reference's semantics.
  */
object ReplFilter extends Workload {

  val Rows = 20000
  val SetupReps = 3
  val WarmupCycles = 5

  /** One cycle of the mix: point `=` filters, `>` range filters,
    * projection-only queries and malformed or unknown-column queries.
    */
  val Deck: Vector[String] = Vector.fill(7)("point") ++ Vector.fill(12)("range") ++
    Vector.fill(3)("project") ++ Vector.fill(3)("error")

  /** Column order of the generated CSV; also the order the engine's
    * unknown-column error lists them in.
    */
  val Columns = Vector("id", "population", "name", "country", "area_km2",
    "zip", "mixed", "big", "note")
  /** Columns whose every cell is all digits (at most 18), hence Long. */
  val LongCols = Set("id", "population", "zip")

  /** The generated table: `cells(r)(c)` is the CSV text of row r. */
  final case class Table(cells: Vector[Vector[String]]) {
    def csv: String = {
      val b = new StringBuilder(Columns.mkString(",")).append('\n')
      cells.foreach(r => b.append(r.mkString(",")).append('\n'))
      b.toString
    }
  }

  private val Countries = Vector("AR", "AU", "BR", "CA", "CN", "DE", "EG",
    "ES", "FR", "GB", "GR", "ID", "IN", "IT", "JP", "KE", "KR", "MX", "NG",
    "NL", "NO", "NZ", "PE", "PL", "PT", "RU", "SE", "TR", "US", "ZA")

  private def word(rng: SplittableRandom, n: Int): String =
    (0 until n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString

  /** The table for `seed`: the same seed gives the same bytes. */
  def table(seed: Long): Table = {
    val rng = new SplittableRandom(seed ^ 0x5ca1ab1eL)
    val ids = shuffled(rng, (0 until Rows).toVector)
    Table(ids.map { id =>
      Vector(
        id.toString,
        rng.nextInt(10000000).toString,
        word(rng, 3).capitalize + "-" + word(rng, 5),
        Countries(rng.nextInt(Countries.size)),
        s"${rng.nextInt(5000)}.${rng.nextInt(10)}",
        f"${rng.nextInt(100000)}%05d",
        if (rng.nextInt(100) == 0) "n/a" else rng.nextInt(100000).toString,
        (1000000000000000000L + (rng.nextLong() & Long.MaxValue) %
          8000000000000000000L).toString,
        if (rng.nextInt(5) == 0) "" else word(rng, 1 + rng.nextInt(6)))
    })
  }

  private def shuffled[T](rng: SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** A query and what the REPL must answer: either an error message or
    * the header line plus the rendered rows in any order.
    */
  final case class Case(kind: String, text: String,
      expected: Either[String, (String, Seq[String])])

  /** The benchmark's model of the reference semantics over `t`. */
  final class Model(t: Table) {
    private val col = Columns.zipWithIndex.toMap
    /** Rendered cell: Long columns print their number (leading zeros go). */
    def render(c: String, cell: String): String =
      if (LongCols(c)) cell.toLong.toString else cell

    def answer(proj: Seq[String], filter: Option[(String, String, String)]): Seq[String] = {
      val keep: Vector[String] => Boolean = filter match {
        case None => _ => true
        case Some((c, op, lit)) =>
          val i = col(c)
          if (LongCols(c)) {
            // the literal is cast to the column type; a literal that
            // does not cast compares as null and matches nothing
            val v = if (lit.matches("[0-9]{1,18}")) Some(lit.toLong) else None
            row => v.exists(x => if (op == "=") row(i).toLong == x else row(i).toLong > x)
          } else {
            val lv = if (lit.matches("[0-9]+") && lit.length <= 18) lit.toLong.toString else lit
            row => if (op == "=") row(i) == lv else row(i).compareTo(lv) > 0
          }
      }
      t.cells.iterator.filter(keep).map(r =>
        proj.map(c => render(c, r(col(c)))).mkString(",")).toSeq
    }

    /** Sorted values of column `c` as the engine orders them. */
    def sortedValues(c: String): Vector[String] = {
      val i = col(c)
      if (LongCols(c)) t.cells.map(_(i).toLong).sorted.map(_.toString)
      else t.cells.map(_(i)).sorted
    }
  }

  /** Rust `{:?}` of the token list, as the parser's errors quote it. */
  private def dbg(tokens: Seq[String]): String =
    tokens.map(t => "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ", ", "]")

  /** Draws a query of `kind`; a range filter's selectivity is
    * log-uniform between 0.01% and 10%.
    */
  def nextCase(kind: String, rng: SplittableRandom, t: Table, m: Model,
      sorted: Map[String, Vector[String]]): Case = {
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    def projOf(n: Int): Seq[String] = shuffled(rng, Columns).take(n)
    def ok(kind: String, proj: Seq[String], f: Option[(String, String, String)],
        quote: Boolean = false): Case = {
      val fText = f.map { case (c, op, v) =>
        s" FILTER $c $op ${if (quote) "\"" + v + "\"" else v}" }.getOrElse("")
      val text = "PROJECT " + proj.mkString(", ") + fText
      Case(kind, text, Right((proj.mkString(","), m.answer(proj, f))))
    }
    if (kind == "point") {
      val row = t.cells(rng.nextInt(Rows))
      rng.nextInt(4) match {
        case 0 => ok("point", projOf(2), Some(("id", "=",
          if (rng.nextInt(10) == 0) (Rows + rng.nextInt(1000)).toString else row(0))))
        case 1 => ok("point", projOf(3), Some(("name", "=", row(2))), quote = rng.nextBoolean())
        case 2 => ok("point", projOf(2), Some(("zip", "=", row(5))))
        case _ => ok("point", projOf(2), Some(("country", "=", row(3))))
      }
    } else if (kind == "range") {
      // selectivity log-uniform in [0.01%, 10%]: the threshold is the
      // value with that share of rows above it
      val sel = math.pow(10, -4 + 3 * rng.nextDouble())
      val c = pick(Seq("id", "population", "area_km2", "mixed", "big"))
      val vs = sorted(c)
      val thr = vs(math.max(0, math.min(Rows - 1, (Rows * (1 - sel)).toInt)))
      ok("range", projOf(1 + rng.nextInt(3)), Some((c, ">", thr)),
        quote = !LongCols(c) && rng.nextBoolean())
    } else if (kind == "project") {
      ok("project", projOf(1 + rng.nextInt(2)), None)
    } else {
      val c = pick(Columns)
      val existing = Columns.mkString(", ")
      def perr(q: String, msg: Seq[String] => String): Case = {
        val toks = q.split(" ").toSeq
        Case("error", q, Left(msg(toks)))
      }
      rng.nextInt(8) match {
        case 0 => perr(s"SELECT $c", ts => s"Expected to find keyword PROJECT in ${dbg(ts)} at position 0")
        case 1 => perr("PROJECT", _ => "Projection column list is empty")
        case 2 => perr(s"PROJECT $c FILTER $c", ts =>
          s"Could not find operator '>' or '=' in the filter in ${dbg(ts)} at position 2")
        case 3 => perr(s"PROJECT $c FILTER $c < 5", ts =>
          s"Unknown filter operator in ${dbg(ts)} at position 4")
        case 4 => perr(s"PROJECT $c FILTER $c >", ts =>
          s"Could not find value to filter by in the filter in ${dbg(ts)} at position 5")
        case 5 => perr(s"PROJECT $c, id WHERE", ts =>
          s"Expected to find keyword FILTER in ${dbg(ts)} at position 3")
        case 6 => Case("error", s"PROJECT $c, no_such_col",
          Left(s"Cannot find column no_such_col, it does not exist in the table, existing columns $existing"))
        case _ => Case("error", s"PROJECT $c FILTER missing_col > 5",
          Left(s"Cannot find column missing_col, it does not exist in the table, existing columns $existing"))
      }
    }
  }

  /** parse → execute → render, each call a span of its own layer. */
  def answer(h: Harness, df: DataFrame, text: String): Either[String, String] = {
    val tr = h.tracer
    tr.span("core.parse")(QueryParser.parse(text)).flatMap { q =>
      tr.span("core.execute")(Executor.execute(q, df)).map { res =>
        tr.span("repl.render")(Repl.render(q.columnNames, res))
      }
    }
  }

  /** Compares an answer with the model: error text exactly, result
    * header and separator exactly, rows as a multiset.
    */
  def verify(c: Case, got: Either[String, String]): Option[String] =
    (c.expected, got) match {
      case (Left(e), Left(g)) => if (e == g) None else Some(s"error text: got '$g', want '$e'")
      case (Right((header, rows)), Right(out)) =>
        // the REPL prints rows after the header and separator, one line
        // each; a lone row that renders empty prints like no row at all
        val lines = out.split("\n", -1).toVector.dropRight(1)
        val body = lines.drop(2)
        val want = if (rows == Seq("")) Nil else rows
        if (lines.headOption.contains(header) && lines.lift(1).contains("-" * header.length) &&
            body.sorted == want.sorted) None
        else Some(s"rows: got ${body.size} rows, want ${rows.size}")
      case (e, g) => Some(s"outcome: got $g, want $e")
    }

  def run(h: Harness): Double = {
    val spark = h.spark
    var df: DataFrame = null
    var tbl: Table = null
    val dir = new File(h.dataDir, "repl")
    // set-up, repeated: generate and write the CSV, then the REPL's
    // load path (load, cache, count)
    val setupS = h.setupReps(SetupReps) { rep =>
      if (df != null) df.unpersist(true)
      tbl = table(h.args.seed)
      val f = new File(dir, s"table-$rep.csv")
      f.getParentFile.mkdirs()
      Files.write(f.toPath, tbl.csv.getBytes(StandardCharsets.UTF_8))
      df = h.tracer.span("sources.csv_load") {
        val d = Repl.loadTable(spark, f.getAbsolutePath).cache()
        d.count()
        d
      }
      if (rep < SetupReps - 1) f.delete()
    }
    val model = new Model(tbl)
    h.check(df.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq ==
      Columns.map(c => c -> (if (LongCols(c)) "long" else "string")),
      s"schema: got ${df.schema.simpleString}")
    val sorted = Columns.map(c => c -> model.sortedValues(c)).toMap
    def step(hh: Harness, rng: SplittableRandom, kind: String): Unit = {
      val c = nextCase(kind, rng, tbl, model, sorted)
      hh.timed(c.kind)(answer(hh, df, c.text)).foreach { got =>
        got.foreach(out => hh.tracer.count("repl.rows_out", math.max(0, out.count(_ == '\n') - 2)))
        verify(c, got).foreach(err => hh.fail(s"${c.text}: $err"))
      }
    }
    // warm-up, checked but not timed: per-query time keeps falling for
    // about the first hundred queries of a JVM
    val wrng = new SplittableRandom(h.args.seed ^ 0x3a3aL)
    val warmS = h.warmup(w => Vector.fill(WarmupCycles)(Deck).flatten.foreach(k => step(w, wrng, k)))
    h.extras("warmup_s") = warmS
    val rng = new SplittableRandom(h.args.seed)
    h.loop(Seq(dir), Deck, Vector.empty, rng)(kind => step(h, rng, kind))
    setupS + warmS
  }
}
