package perfbench

import graft.core.{Bounds, DimMapping}
import graft.world.World
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Read-only selections over one static 2-dim world: chunk selections
  * (`select`/`and`/`plus`), raw dim `between` predicates (planned through
  * DimBucketPruning), Zipf-skewed `hint` point lookups and connector
  * (`format("graft")`) lookups on a bloom column and ranges on a
  * zone-mapped column. No commits happen in the timed phase, so every read
  * plans from the same manifest and reuses the World read memo. */
object SelectScan extends Workload {
  val C0 = 32            // id chunks
  val Ipc0 = 1600L       // ids per id chunk
  val Rows: Long = C0 * Ipc0
  val XMax = 1023L
  val Ipc1 = 128L        // x values per x chunk: 8 chunks
  val C1: Long = (XMax + 1) / Ipc1
  val DeckSize = 301     // distinct statements, cycled; odd so tracing alternates per pass
  val Reps = 3
  val Warmup = 10        // untimed statements before the timed phase
  /** Kinds of one block of 20 statements: the fixed mix, shuffled per block. */
  val Block: Seq[String] =
    Seq.fill(3)("select_chunk") ++ Seq.fill(3)("select_box") ++
      Seq.fill(2)("select_plus") ++ Seq.fill(2)("where_between") ++ Seq("sql_between") ++
      Seq.fill(5)("hint") ++ Seq.fill(2)("conn_bloom") ++ Seq.fill(2)("conn_zone")
  /** Multiplier of the bloom key: odd, so `id * KMul mod 2^40` is a bijection. */
  private val KMul = 6156239L
  private val KMask = (1L << 40) - 1

  val Cols: Seq[String] = Seq("id", "x", "k", "t", "v", "w")

  /** The answer of every statement: row count and an order-free checksum. */
  def rowHash: Column = pmod(xxhash64(Cols.map(col): _*), lit(1000003L))
  def answer(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** One statement: chunk boxes (c0lo, c0hi, c1lo, c1hi) for the chunk
    * selections, value ranges for the row-exact ones. */
  final case class Q(kind: String, boxes: Seq[(Long, Long, Long, Long)],
      idLo: Long = 0L, idHi: Long = Long.MaxValue, xLo: Long = 0L,
      xHi: Long = Long.MaxValue, kEq: Option[Long] = None,
      tLo: Long = Long.MinValue, tHi: Long = Long.MaxValue,
      valueBounds: Seq[(Long, Long)] = Nil)

  def source(spark: org.apache.spark.sql.SparkSession, seed: Long): DataFrame =
    spark.range(0, Rows).select(
      col("id"),
      pmod(xxhash64(col("id"), lit(seed), lit(1)), lit(XMax + 1)).as("x"),
      ((col("id") * lit(KMul)).bitwiseAND(lit(KMask))).as("k"),
      (col("id") * 16 + pmod(xxhash64(col("id"), lit(seed), lit(3)), lit(16L))).as("t"),
      substring(sha2(concat_ws("-", lit(seed), col("id")), 256), 1, 40).as("v"),
      (pmod(xxhash64(col("id"), lit(seed), lit(4)), lit(1000000L)) / 1000.0).as("w"))

  private def newWorld(ctx: Ctx, path: String): World =
    World(ctx.spark, path)("id" -> DimMapping(0L, Rows - 1, Ipc0),
      "x" -> DimMapping(0L, XMax, Ipc1))

  /** Zipf(1.1) ranks over a seeded permutation of the id space. */
  private final class Zipf(rnd: java.util.Random, n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private val ids = {
      val a = Array.tabulate(n)(i => (i.toLong * 7919L * 31L) % Rows)
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    def next(): Long = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      ids(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  def deck(seed: Long): IndexedSeq[Q] = {
    val rnd = new java.util.Random(seed * 1000003L + 17L)
    val zipf = new Zipf(rnd, 20000, 1.1)
    def within(c: Long, ipc: Long) = c * ipc + (rnd.nextLong() & Long.MaxValue) % ipc
    // value bounds inside chunks lo..hi: selections round them out to exactly those chunks
    def span(lo: Long, hi: Long, ipc: Long) = {
      val (a, b) = (within(lo, ipc), within(hi, ipc))
      (math.min(a, b), math.max(a, b))
    }
    def chunkRange(maxSpan: Int, chunks: Long) = {
      val span = 1 + rnd.nextInt(maxSpan)
      val lo = rnd.nextInt((chunks - span + 1).toInt).toLong
      (lo, lo + span - 1)
    }
    val kinds = Iterator.continually(scala.util.Random.javaRandomToRandom(rnd).shuffle(Block))
      .flatten.take(DeckSize).toIndexedSeq
    kinds.map {
      case "select_chunk" =>
        val (a, c) = (rnd.nextInt(C0).toLong, rnd.nextInt(C1.toInt).toLong)
        Q("select_chunk", Seq((a, a, c, c)),
          valueBounds = Seq(span(a, a, Ipc0), span(c, c, Ipc1)))
      case "select_box" =>
        val (a0, a1) = chunkRange(8, C0)
        val (b0, b1) = chunkRange(3, C1)
        Q("select_box", Seq((a0, a1, b0, b1)),
          valueBounds = Seq(span(a0, a1, Ipc0), span(b0, b1, Ipc1)))
      case "select_plus" =>
        // (A x B) plus (A' x all): a cross-shaped two-box selection
        val (a0, a1) = chunkRange(2, C0)
        val (b0, b1) = chunkRange(2, C1)
        val p = rnd.nextInt(C0).toLong
        Q("select_plus", Seq((a0, a1, b0, b1), (p, p, 0L, C1 - 1)),
          valueBounds = Seq(span(a0, a1, Ipc0), span(b0, b1, Ipc1), span(p, p, Ipc0)))
      case k @ ("where_between" | "sql_between") =>
        val (a0, a1) = chunkRange(3, C0)
        val lo = within(a0, Ipc0)
        val hi = math.max(lo, within(a1, Ipc0))
        val xl = (rnd.nextLong() & Long.MaxValue) % (XMax + 1)
        val xh = math.min(XMax, xl + 100 + rnd.nextInt(300))
        Q(k, Seq((a0, a1, 0L, C1 - 1)), idLo = lo, idHi = hi, xLo = xl, xHi = xh)
      case "hint" =>
        val id = zipf.next()
        val c = id / Ipc0
        Q("hint", Seq((c, c, 0L, C1 - 1)), idLo = id, idHi = id)
      case "conn_bloom" =>
        val id = zipf.next()
        Q("conn_bloom", Seq((0L, C0 - 1, 0L, C1 - 1)), kEq = Some((id * KMul) & KMask))
      case "conn_zone" =>
        val lo = (rnd.nextLong() & Long.MaxValue) % (Rows * 16 - 40000)
        val hi = lo + 4000 + rnd.nextInt(30000)
        Q("conn_zone", Seq((0L, C0 - 1, 0L, C1 - 1)), tLo = lo, tHi = hi)
    }
  }

  /** Expected answers of the whole deck, from plain Spark over the
    * generated source rows with the same chunk arithmetic
    * (`chunk = value div itemsPerChunk`): one equi-join on the id chunk. */
  def expected(ctx: Ctx, src: DataFrame, qs: IndexedSeq[Q]): Map[Int, (Long, Long)] = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = qs.zipWithIndex.flatMap { case (q, i) =>
      q.boxes.flatMap { case (a0, a1, b0, b1) =>
        (a0 to a1).map(c0 => (i, c0, b0, b1, q.idLo, q.idHi, q.xLo, q.xHi,
          q.kEq.getOrElse(Long.MinValue), q.kEq.getOrElse(Long.MaxValue), q.tLo, q.tHi))
      }
    }
    val qdf = rows.toDF("q", "qc0", "c1lo", "c1hi", "idlo", "idhi", "xlo", "xhi",
      "klo", "khi", "tlo", "thi")
    val s = src.select(col("*"), (col("id") / Ipc0).cast("long").as("sc0"),
      (col("x") / Ipc1).cast("long").as("sc1"), rowHash.as("h"))
    val got = s.join(broadcast(qdf), col("sc0") === col("qc0") &&
        col("sc1").between(col("c1lo"), col("c1hi")) &&
        col("id").between(col("idlo"), col("idhi")) &&
        col("x").between(col("xlo"), col("xhi")) &&
        col("k").between(col("klo"), col("khi")) &&
        col("t").between(col("tlo"), col("thi")))
      .dropDuplicates("q", "id")
      .groupBy("q").agg(count(lit(1)), sum("h"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    qs.indices.map(i => i -> got.getOrElse(i, (0L, 0L))).toMap
  }

  /** The engine-side statement for `q`. */
  def stmt(ctx: Ctx, w: World, table: String, q: Q, want: (Long, Long)): Stmt = {
    val tr = ctx.tracer
    val cls = "read"
    def check(got: (Long, Long)): Option[String] = {
      tr.count("rows_returned", got._1.toDouble)
      if (got == want) None else Some(s"${q.kind}: got $got, expected $want")
    }
    def selection = {
      val vb = q.valueBounds
      q.kind match {
        case "select_plus" =>
          w.select(0, Bounds.to(vb(0)._1, vb(0)._2)).and(1, Bounds.to(vb(1)._1, vb(1)._2))
            .plus(0, Bounds.to(vb(2)._1, vb(2)._2))
        case _ =>
          w.select(0, Bounds.to(vb(0)._1, vb(0)._2)).and(1, Bounds.to(vb(1)._1, vb(1)._2))
      }
    }
    q.kind match {
      case "select_chunk" | "select_box" | "select_plus" => Stmt(cls, q.kind, () =>
        check(answer(tr.span("world.select_s")(selection.iter()))))
      case "where_between" => Stmt(cls, q.kind, () => {
        val df = tr.span("world.df_s")(w.df)
        check(answer(df.where(col("id").between(q.idLo, q.idHi) &&
          col("x").between(q.xLo, q.xHi))))
      })
      case "sql_between" => Stmt(cls, q.kind, () =>
        check(answer(tr.span("sources.catalog_sql_s")(ctx.spark.sql(
          s"SELECT ${Cols.mkString(", ")} FROM graftcat.$table WHERE id BETWEEN ${q.idLo} " +
            s"AND ${q.idHi} AND x BETWEEN ${q.xLo} AND ${q.xHi}")))))
      case "hint" => Stmt(cls, q.kind, () =>
        check(answer(tr.span("world.select_s")(
          w.select(0, Bounds.point(q.idLo)).hint(q.idLo).iter()))))
      case "conn_bloom" => Stmt(cls, q.kind, () =>
        check(answer(tr.span("sources.connector_load_s")(
          ctx.spark.read.format("graft").load(w.path)).where(col("k") === q.kEq.get))))
      case "conn_zone" => Stmt(cls, q.kind, () =>
        check(answer(tr.span("sources.connector_load_s")(
          ctx.spark.read.format("graft").load(w.path))
          .where(col("t").between(q.tLo, q.tHi)))))
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val ph = new Phases
    val src = source(spark, ctx.seed).cache()
    src.count()
    val qs = deck(ctx.seed)
    val want = expected(ctx, src, qs)
    ph.mark("prepare")
    // the rows of one cell, written after create
    val lastCell = col("id") >= Rows - Ipc0 && col("x") < Ipc1
    val (w, setupTimes, setupTraced) = Setup.repeated(Reps, ctx.tracer) { r =>
      // under the catalog warehouse: the world is also table graftcat.select<r>
      val w = newWorld(ctx, s"${ctx.dir}/wh/select$r")
      // create, then one more write: the first write to a fresh world seals
      // the versioned baseline (with per-file zone maps) reads plan from
      ctx.tracer.span("world.create_s")(w.create(src.where(!lastCell), bloomColumns = Seq("k")))
      ctx.tracer.span("world.insert_s")(w.insert(src.where(lastCell)))
      w
    }
    val table = s"select${Reps - 1}"
    ph.mark("setup")
    // untimed warm-up on the final world, answers checked: the last
    // statements of the deck
    qs.indices.takeRight(Warmup).foreach { i =>
      stmt(ctx, w, table, qs(i), want(i)).body().foreach(e =>
        throw new IllegalStateException(s"warm-up answer wrong: $e"))
    }
    ph.mark("warmup")
    val before = TreeStats.of(w.path)
    val loop = new Loop(ctx.tracer)
    val elapsed = loop.runFor(ctx.seconds)(i =>
      stmt(ctx, w, table, qs(i % qs.size), want(i % qs.size)))
    ph.mark("timed")
    val after = TreeStats.of(w.path)
    val checks = Seq("world tree unchanged by reads" ->
      (if (after.files == before.files) None else Some("read-only phase changed files")))
    val compact = Common.compactBytes(ctx, src, "select-live")
    val layer = if (ctx.trace) Common.sourceState(Seq(w)) ++ Map(
      "world.select_s" -> ctx.tracer.spanMean("world.select_s"),
      "world.df_s" -> ctx.tracer.spanMean("world.df_s"),
      "world.create_s" -> ctx.tracer.spanMean("world.create_s"),
      "world.insert_s" -> ctx.tracer.spanMean("world.insert_s"),
      "sources.connector_load_s" -> ctx.tracer.spanMean("sources.connector_load_s"),
      "sources.catalog_sql_s" -> ctx.tracer.spanMean("sources.catalog_sql_s"),
      "world.rows_returned" -> ctx.tracer.counter("rows_returned") /
        math.max(1, loop.samples.count(_.traced))) else Map.empty[String, Double]
    ph.mark("checks")
    Outcome(
      inputs = Map("seed" -> ctx.seed, "rows" -> Rows, "grid" -> s"${C0}x$C1",
        "grid_cells" -> C0 * C1, "start_files" -> before.dataFiles,
        "bloom_column" -> "k", "zone_map_column" -> "t",
        "mix_per_20" -> Block.groupBy(identity).map { case (k, v) => k -> v.size },
        "deck_size" -> DeckSize, "setup_reps" -> Reps, "local_k" -> ctx.cores),
      latencyClasses = Set("read"),
      setupTimes = setupTimes, setupTraced = setupTraced, loop = loop,
      elapsed = elapsed, spaceAmp = after.bytes.toDouble / compact,
      checks = checks,
      named = loop.latency("read", Set("read")),
      layer = layer, phases = ph.toMap)
  }
}
