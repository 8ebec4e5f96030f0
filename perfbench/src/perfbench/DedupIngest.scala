package perfbench

import graft.core.DimMapping
import graft.ops.{Dedup, Pins, ScalableWindow, Text}
import graft.world.World
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Batch ingestion with deduplication, as the streaming daemon's per-batch
  * bodies do it: each batch of generated documents goes through exact
  * dedup against a fingerprint store, SimHash near-dedup of the survivors
  * against a signature store, `World.insert` of the kept documents into a
  * sink world, then `Pins.releaseAll`. The run closes with a curriculum
  * `ScalableWindow.ntile` over the sink. */
object DedupIngest extends Workload {
  val BatchDocs = 300
  val WarmBatches = 2
  val WarmDocs = 60
  val Reps = 3
  val Tiles = 10
  /** Document mix of a batch, as shares. */
  val Mix: Seq[(String, Double)] = Seq("unique" -> 0.45, "resent" -> 0.15,
    "planted" -> 0.10, "edited" -> 0.15, "boilerplate" -> 0.15)

  val Schema: StructType = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType, false)))

  /** Seeded document generator: vocabulary words plus md5-hex words that
    * make every `unique` document distinct from all others. */
  final class Docs(seed: Long) {
    private val rnd = new scala.util.Random(seed * 31L + 11L)
    private val vocab = Array.fill(3000) {
      val n = 3 + rnd.nextInt(7)
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    /** Id of the last document generated. */
    def lastId: Long = nextId - 1
    private val boiler = (0 until 120).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    private val md5 = java.security.MessageDigest.getInstance("MD5")
    private var nextId = 1L
    private val seen = mutable.ArrayBuffer.empty[String]
    private def words(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.length)))
    private def hex(s: String) =
      md5.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

    /** One batch: (doc_id, text, class), ids increasing so a planted copy
      * always carries a larger id than its original. */
    def batch(n: Int): Seq[(Long, String, String)] = {
      val counts = Mix.map { case (c, s) => c -> math.round(s * n).toInt }.toMap
      val unique = (0 until counts("unique")).map { _ =>
        (words(30 + rnd.nextInt(40)) ++ (0 until 6).map(i => hex(s"$seed-$nextId-$i-${rnd.nextLong()}")))
          .mkString(" ")
      }
      def pick(xs: collection.IndexedSeq[String]) = xs(rnd.nextInt(xs.size))
      val resent = if (seen.isEmpty) Nil else (0 until counts("resent")).map(_ => pick(seen))
      val planted = (0 until counts("planted")).map(_ => pick(unique))
      val edited = (0 until counts("edited")).map { _ =>
        val ws = pick(if (seen.nonEmpty && rnd.nextBoolean()) seen else unique).split(' ')
        ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.length))
        ws.mkString(" ")
      }
      val wrapped = (0 until counts("boilerplate")).map { _ =>
        s"$boiler ${pick(unique).split(' ').take(8).mkString(" ")} $boiler"
      }
      // originals first (smaller ids), then the copies and variants
      val out = (unique.map(_ -> "unique") ++ resent.map(_ -> "resent") ++
        rnd.shuffle(planted.map(_ -> "planted") ++ edited.map(_ -> "edited") ++
          wrapped.map(_ -> "boilerplate"))).map { case (t, c) =>
        val id = nextId
        nextId += 1
        (id, t, c)
      }
      seen ++= unique
      out
    }
  }

  final class Stores(ctx: Ctx, r: Int) {
    val fp = World(ctx.spark, s"${ctx.dir}/dedup$r/fp")("fp64" -> DimMapping(0L, -1L, 1L << 59))
    val sig = World(ctx.spark, s"${ctx.dir}/dedup$r/sig")("blk64" -> DimMapping(0L, -1L, 1L << 59))
    val sink = World(ctx.spark, s"${ctx.dir}/dedup$r/sink")(
      "doc_id" -> DimMapping(0L, (1L << 24) - 1, 1L << 20))
    def all: Seq[World] = Seq(fp, sig, sink)
    var sinkRows = 0L
    var attempted = 0L
    var kept = 0L
    var pinsMax = 0
  }

  def frame(ctx: Ctx, docs: Seq[(Long, String, String)]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      docs.map { case (id, t, _) => Row(id, t) }, ctx.cores), Schema)

  /** One batch through exact dedup, near dedup and the sink insert; returns
    * `None` when the kept set passes the checks. */
  def ingest(ctx: Ctx, s: Stores, docs: Seq[(Long, String, String)]): Option[String] = {
    val tr = ctx.tracer
    val batch = frame(ctx, docs)
    var sinkSecs = 0.0
    val kept = try {
      val exact = tr.span("ops.exact_dedup_s")(
        Dedup.incrementalDedup(s.fp, batch, "doc_id", "text"))
      val t0 = System.nanoTime()
      val near = Dedup.incrementalNearDedup(s.sig, exact.drop(s.fp.dims.head.column),
        "doc_id", "text", onFresh = fresh => {
          val f0 = System.nanoTime()
          if (!new java.io.File(s.sink.path).exists())
            tr.span("world.create_s")(s.sink.create(fresh))
          else tr.span("ops.sink_insert_s")(s.sink.insert(fresh))
          sinkSecs = (System.nanoTime() - f0) / 1e9
        })
      val nearSecs = (System.nanoTime() - t0) / 1e9 - sinkSecs
      tr.count("near_dedup_s", nearSecs)
      near.select("doc_id").collect().map(_.getLong(0)).toSeq
    } finally {
      Pins.releaseAll()
      s.pinsMax = math.max(s.pinsMax, Pins.retainedCount)
    }
    s.attempted += docs.size
    s.kept += kept.size
    s.sinkRows += kept.size
    val keptSet = kept.toSet
    val ids = docs.map(_._1).toSet
    val byClass = docs.groupBy(_._3).map { case (c, xs) => c -> xs.map(_._1) }
    def of(c: String) = byClass.getOrElse(c, Nil)
    val uniqueDropped = of("unique").count(id => !keptSet(id))
    val copiesKept = of("planted").count(keptSet) + of("resent").count(keptSet)
    val problems = Seq(
      (kept.size != keptSet.size) -> "kept ids repeat",
      !keptSet.subsetOf(ids) -> "kept ids outside the batch",
      (keptSet.size + (ids -- keptSet).size != docs.size) -> "kept + dropped != batch",
      (uniqueDropped > 0) -> s"$uniqueDropped md5-word unique docs dropped",
      (copiesKept > 0) -> s"$copiesKept planted or re-sent exact copies kept"
    ).collect { case (true, why) => why }
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val ph = new Phases
    ph.mark("prepare")
    val ((stores, gen), setupTimes, setupTraced) = Setup.repeated(Reps, ctx.tracer) { r =>
      val s = new Stores(ctx, r)
      val gen = new Docs(ctx.seed)
      // warm-up batches: the first creates the stores, the next ones take
      // each store's first write to a freshly created world
      (0 until WarmBatches).foreach { _ =>
        ingest(ctx, s, gen.batch(WarmDocs)).foreach(e =>
          throw new IllegalStateException(s"warm-up batch wrong: $e"))
      }
      s.attempted = 0L
      s.kept = 0L
      (s, gen)
    }
    ph.mark("setup")
    val before = stores.all.map(w => TreeStats.of(w.path))
    val lastWarmId = gen.lastId
    val loop = new Loop(ctx.tracer)
    var docsDone = 0L
    val t0 = System.nanoTime()
    loop.runFor(ctx.seconds) { _ =>
      val docs = gen.batch(BatchDocs)
      Stmt("batch", "batch", () => {
        val r = ingest(ctx, stores, docs)
        docsDone += docs.size
        r
      })
    }
    // curriculum order over the sink: ntile by length, doc_id tie-break
    loop.run(Stmt("window", "ntile", () => {
      val tiles = ctx.tracer.span("ops.window_s")(ScalableWindow.ntile(
        stores.sink.df.select(col("doc_id"), length(col("text")).as("len")),
        Seq(col("len"), col("doc_id")), Tiles, "tile")
        .groupBy("tile").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val n = stores.sinkRows
      val ok = tiles.keySet == (1L to Tiles).toSet && tiles.values.sum == n &&
        tiles.values.forall(c => c == n / Tiles || c == n / Tiles + 1)
      if (ok) None else Some(s"ntile sizes $tiles over $n rows")
    }), forceTrace = true)
    val elapsed = (System.nanoTime() - t0) / 1e9
    ph.mark("timed")
    val after = stores.all.map(w => TreeStats.of(w.path))
    val sinkDf = stores.sink.df
    val checks = Seq(
      "sink holds no duplicate normalized text" -> {
        val dups = sinkDf.groupBy(Text.fingerprint(col("text"))).count()
          .where(col("count") > 1).count()
        if (dups == 0) None else Some(s"$dups normalized texts repeat in the sink")
      },
      "sink row count equals kept documents" -> {
        val n = sinkDf.count()
        if (n == stores.sinkRows) None else Some(s"sink has $n rows, kept ${stores.sinkRows}")
      })
    val userBytes = Common.compactBytes(ctx,
      sinkDf.where(col("doc_id") > lastWarmId).select("doc_id", "text"), "dedup-written")
    val liveBytes = stores.all.map(w => Common.compactBytes(ctx,
      w.df.drop(w.bucketCols: _*), s"dedup-live-${w.dims.head.column}")).sum
    val added = before.zip(after).map { case (b, a) => TreeStats.bytesAdded(b, a) }.sum
    val diskBytes = after.map(_.bytes).sum.toDouble
    ph.mark("checks")
    val batches = loop.ok.filter(_.cls == "batch")
    val layer = if (ctx.trace) Common.sourceState(stores.all) ++ Map(
      "ops.exact_dedup_s" -> ctx.tracer.spanMean("ops.exact_dedup_s"),
      "ops.near_dedup_s" -> ctx.tracer.counter("near_dedup_s") /
        math.max(1, loop.samples.count(s => s.traced && s.cls == "batch")),
      "ops.sink_insert_s" -> ctx.tracer.spanMean("ops.sink_insert_s"),
      "ops.window_s" -> ctx.tracer.spanMean("ops.window_s"),
      "world.create_s" -> ctx.tracer.spanMean("world.create_s"),
      "ops.fresh_ratio" -> stores.kept.toDouble / math.max(1L, stores.attempted),
      "ops.pins_retained" -> stores.pinsMax.toDouble)
    else Map.empty[String, Double]
    Outcome(
      inputs = Map("seed" -> ctx.seed, "batch_docs" -> BatchDocs,
        "doc_mix" -> Mix.toMap, "warm_batches" -> WarmBatches, "warm_batch_docs" -> WarmDocs,
        "stores" -> "fp64 and blk64: 32 chunks over u64; sink: doc_id, 16 chunks",
        "start_files" -> before.map(_.dataFiles).sum, "setup_reps" -> Reps,
        "local_k" -> ctx.cores),
      latencyClasses = Set("batch"),
      setupTimes = setupTimes, setupTraced = setupTraced, loop = loop,
      elapsed = elapsed, spaceAmp = diskBytes / liveBytes, checks = checks,
      named = loop.latency("batch", Set("batch")) ++ Map(
        "docs_per_s" -> Metric(docsDone / elapsed, "1/s", batches.size, "rate"),
        "write_amp" -> Metric(added / userBytes, "ratio", batches.size, "ratio"),
        "space_amp" -> Metric(diskBytes / liveBytes, "ratio", 1, "ratio")),
      layer = layer, phases = ph.toMap)
  }
}
