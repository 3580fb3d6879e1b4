package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{SparkEntry, Tables}
import graft.ops.{AnnIndex, GlobalRank}
import graft.varda.{FreqStore, VardaOps}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: sets up, runs one workload closed-loop from
  * a single client thread, and writes a raw record (operations, setup
  * repetitions, spans, listener jobs, gate inputs) as JSON for run.py,
  * which turns it into metrics. It only calls the program's public entry
  * points; nothing in the program knows it is being measured.
  *
  * {{{
  * Harness <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir>
  *         <cpus> <outJson>
  * }}}
  */
object Harness {

  /** The surface sample: one key from most operator families, all
    * stateless (no memoized standing index or store) so every pass costs
    * the same. */
  val surfaceKeys: Seq[String] = Seq(
    "scan_parquet", "join_inner_equi", "agg_groupby_sums", "topk_per_group",
    "fn_json", "stream_tumbling", "events_funnel", "text_tokens_tf",
    "dedup_exact", "text_quality", "varda_region_intersect",
    "varda_annotate_multi")
  /** The engine warm-up of every surface set-up (`graft.Bench`'s own). */
  val surfaceWarmKeys: Seq[String] =
    Seq("agg_groupby_sums", "stream_tumbling", "agg_approx_hll")
  val MinPasses = 3
  /** The surface times `seconds / NominalPassS` passes (at least
    * `MinPasses`), a count fixed before it starts: passes still speed up
    * as the JIT works, so a count that depended on their speed would put
    * the median of a slow run earlier on that curve than a fast run's. */
  val NominalPassS = 2.0

  /** The two size gates: the key each is probed with, its session conf
    * and default threshold. The gates are read when a key is built, so an
    * `<key>@at_scale` operation sets the conf to 0 around the builder call
    * only, and takes the plan reserved for large inputs (the
    * merged-interval sweep, rank selection). */
  val AtScale = "@at_scale"
  val gates: Seq[(String, String, String, Long)] = Seq(
    ("multiSweep", "varda_annotate_multi", "spark.graft.multiSweep.minInputBytes", 8L << 20),
    ("rankSelect", "agg_quartiles", "spark.graft.rankSelect.minInputBytes", 64L << 20))

  /** Set-up repetitions. Each surface repetition ends with one pass of
    * the sample, and the JIT keeps speeding passes up for several passes,
    * so the surface sets up more often: its timed passes start closer to
    * the steady state. */
  val SetupReps = Map("surface" -> 4, "store_serve" -> 3)
  val StoreBatches = 2
  val StoreBuckets = 16
  val PointsPerRound = 8
  val RangesPerRound = 2
  val RangeWidth = 4000L

  final case class Op(kind: String, name: String, pass: Int, latS: Double,
      ok: Boolean, rows: Long = -1L, err: String = "",
      extra: Map[String, Any] = Map.empty) {
    def json: Map[String, Any] = Map("kind" -> kind, "name" -> name,
      "pass" -> pass, "lat_s" -> latS, "ok" -> ok, "rows" -> rows,
      "err" -> err) ++ extra
  }

  final class Run(val workload: String, val seed: Long, val seconds: Double,
      val traced: Boolean, val data: String, val runDir: String,
      val cpus: Int) {
    val rng = new Random(seed)
    val record = mutable.LinkedHashMap.empty[String, Any]
    var spark: SparkSession = _
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 8) {
      System.err.println("usage: Harness <workload> <seed> <seconds> <trace> " +
        "<dataDir> <runDir> <cpus> <outJson>")
      sys.exit(2)
    }
    val r = new Run(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4), args(5), args(6).toInt)
    val out = args(7)
    if (!servicesRegistered()) {
      System.err.println("[perfbench] META-INF/services/" +
        "org.apache.spark.sql.sources.DataSourceRegister with the graft " +
        "sources is not on the classpath; the freqstore formats would not " +
        "resolve")
      sys.exit(3)
    }
    val loadStart = loadavg()
    r.workload match {
      case "surface" => surface(r)
      case "store_serve" => storeServe(r)
      case w =>
        System.err.println(s"[perfbench] unknown workload $w"); sys.exit(2)
    }
    r.record("gates") = gateInputs(r)
    r.record("env") = Map(
      "cpus" -> r.cpus, "master" -> s"local[${r.cpus}]",
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "spark_version" -> r.spark.version)
    r.record("vm_hwm_kb") = vmHwmKb()
    r.spark.stop()
    Files.writeString(Paths.get(out), Json(r.record))
  }

  // ---------------------------------------------------------------- setup

  def session(r: Run): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${r.cpus}]")
      .config("spark.sql.shuffle.partitions", r.cpus.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${r.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${r.runDir}/warehouse")
      .config("spark.graft.scratchDir", s"${r.runDir}/graft-scratch")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up, `SetupReps` times over: a fresh SparkContext, then the
    * workload's own warm-up (`prime`); the last session is kept. The
    * first repetition runs in a cold JVM; run.py reports the median. */
  def setup(r: Run)(prime: SparkSession => Unit): Unit = {
    val reps = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until SetupReps(r.workload)) {
      if (r.spark != null) {
        r.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      r.spark = session(r)
      prime(r.spark)
      reps += (System.nanoTime() - t0) / 1e9
    }
    r.record("setup_s") = reps.toSeq
  }

  // ------------------------------------------------------ key workloads

  /** surface: passes over the sample in a fresh seeded order each pass,
    * one `count()` per key. Each set-up runs the engine warm-up, then one
    * pass. */
  def surface(r: Run): Unit = {
    setup(r) { s =>
      surfaceWarmKeys.foreach(k => SparkEntry.queries(k)(s, r.data).count())
      for (k <- r.rng.shuffle(surfaceKeys)) runKey(r, new Tracer(false), k, 0)
    }
    val fams = families
    r.record("families") = surfaceKeys.map(k => k -> fams.getOrElse(k, "other")).toMap

    val timedPasses = math.max(MinPasses, math.round(r.seconds / NominalPassS).toInt)
    def phase(tr: Tracer, bounded: Boolean): (Seq[Op], Seq[Double]) = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val walls = for (pass <- 1 to (if (bounded) timedPasses else MinPasses)) yield {
        val p0 = System.nanoTime()
        for (k <- r.rng.shuffle(surfaceKeys)) ops += runKey(r, tr, k, pass)
        (System.nanoTime() - p0) / 1e9
      }
      (ops.toSeq, walls)
    }
    timedPhases(r)(phase) { tr => sweepLayer(r, tr); gateLayer(r, tr); storeProbe(r, tr) }
    if (r.traced) annLayer(r)
  }

  /** Each gated key on both sides of its gate, twice; the second, warm,
    * run of each is the one reported. */
  def gateLayer(r: Run, tr: Tracer): Unit = {
    val ops = for ((gate, key, _, _) <- gates; side <- Seq("small", "at_scale");
                   rep <- 1 to 2) yield {
      val name = if (side == "small") key else key + AtScale
      tr.span(s"gate:$gate:$side:$rep", "gate")(runKey(r, tr, name, rep))
    }
    r.record("gate_ops") = ops.map(_.json)
  }

  def runKey(r: Run, tr: Tracer, name: String, pass: Int): Op = {
    val fn = SparkEntry.queries(name.stripSuffix(AtScale))
    def build(): DataFrame =
      if (!name.endsWith(AtScale)) fn(r.spark, r.data)
      else {
        gates.foreach(g => r.spark.conf.set(g._3, "0"))
        try fn(r.spark, r.data)
        finally gates.foreach(g => r.spark.conf.unset(g._3))
      }
    val t0 = System.nanoTime()
    try {
      val n = tr.span(s"key:$name", "op") {
        val agg = tr.ruleSpan("builder", "builders")(build().groupBy().count())
        planPhases(tr, agg)
        tr.span("execute", "exec")(agg.collect()(0).getLong(0))
      }
      Op("key", name, pass, (System.nanoTime() - t0) / 1e9, ok = true, rows = n)
    } catch { case e: Throwable =>
      Op("key", name, pass, (System.nanoTime() - t0) / 1e9, ok = false,
        err = e.toString.take(300))
    }
  }

  /** Optimizer and physical planning, timed on the QueryExecution that
    * then executes (so the traced run does not plan twice). Analysis is
    * not a phase here: Spark analyses each Dataset as it is built, so it
    * runs inside the builder span, which records its rule time. */
  def planPhases(tr: Tracer, df: DataFrame): Unit = if (tr.on) {
    val qe = df.queryExecution
    tr.span("optimize", "catalyst")(qe.optimizedPlan)
    tr.span("plan", "catalyst")(qe.executedPlan)
  }

  /** Run the timed phase untraced (`bounded`: surface passes fill about
    * `seconds`). A traced run reports no end-to-end metric, so there it
    * runs the phase untraced with the minimum pass count, then again with
    * spans and the listener on, then the direct layer probes, then once
    * more untraced: the tracing overhead compares the traced phase with
    * untraced phases on both sides of it. */
  def timedPhases(r: Run)(phase: (Tracer, Boolean) => (Seq[Op], Seq[Double]))(
      probes: Tracer => Unit): Unit = {
    val (gc0, jit0, cl0) = (gcMs(), jitMs(), classesLoaded())
    val (ops, walls) = phase(new Tracer(false), !r.traced)
    r.record("ops") = ops.map(_.json)
    r.record("pass_s") = walls
    r.record("gc_s") = (gcMs() - gc0) / 1e3
    r.record("jit_s") = (jitMs() - jit0) / 1e3
    r.record("classes_loaded") = classesLoaded() - cl0
    if (r.traced) {
      val rec = new Recorder
      r.spark.sparkContext.addSparkListener(rec)
      val tr = new Tracer(true)
      val t0 = tr.nowMs
      val (tops, twalls) = tr.span("phase", "workload")(phase(tr, false))
      val t1 = tr.nowMs
      probes(tr)
      PerfbenchBus.drain(r.spark.sparkContext)
      r.spark.sparkContext.removeSparkListener(rec)
      val (_, walls2) = phase(new Tracer(false), false)
      r.record("traced") = Map(
        "ops" -> tops.map(_.json), "pass_s" -> twalls, "t0" -> t0, "t1" -> t1,
        "untraced_after_pass_s" -> walls2,
        "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "layer" -> s.layer, "t0" -> s.t0, "t1" -> s.t1,
          "rule_ms" -> s.ruleMs)),
        "jobs" -> rec.snapshot.map(j => Map("id" -> j.id, "t0" -> j.t0,
          "t1" -> j.t1, "stages" -> j.stages, "tasks" -> j.tasks,
          "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "in_b" -> j.inB,
          "sr_b" -> j.srB, "sw_b" -> j.swB, "spill_b" -> j.spillB,
          "out_b" -> j.outB)))
    }
  }

  /** The shared chunked sweep, called directly over the coverage
    * endpoints of the workload's data: +1 at each interval start, -1 one
    * past its end, running sum per chromosome. */
  def sweepLayer(r: Run, tr: Tracer): Unit = {
    val cov = VardaOps.cov(r.spark, r.data)
    val ends = cov.select(col("chromosome"), col("begin_pos").as("pos"),
        lit(1L).as("delta"), col("region_id"))
      .unionByName(cov.select(col("chromosome"), (col("end_pos") + 1).as("pos"),
        lit(-1L).as("delta"), col("region_id")))
    val (rows, minDepth) = tr.span("sweep", "sweep") {
      val agg = GlobalRank.withGroupedRunningSums(ends, Seq("chromosome"),
          Seq(col("pos"), col("delta"), col("region_id")),
          Seq((col("delta"), "depth")))
        .agg(count(lit(1)), min(col("depth")))
      val row = agg.collect()(0)
      (row.getLong(0), row.getLong(1))
    }
    val want = cov.count() * 2
    r.record("sweep_check") = Map("rows" -> rows, "expected_rows" -> want,
      "min_depth" -> minDepth, "ok" -> (rows == want && minDepth >= 0))
  }

  /** ANN index lifecycle on the embeddings: build on two thirds, append
    * the rest, delete a seeded handful, query top-5 for every label-0
    * vector; recall against the exact driver-side top-5. */
  def annLayer(r: Run): Unit = {
    val tr = new Tracer(true)
    val s = r.spark
    val emb = Tables.embeddings(s, r.data)
    val dir = s"${r.runDir}/ann"
    val all = emb.select("vec_id", "label", "embedding").collect()
      .map(row => (row.getLong(0), row.getInt(1),
        row.getSeq[Float](2).toArray)).toSeq
    val deleted = r.rng.shuffle(all.map(_._1)).take(10).toSet
    import s.implicits._
    tr.span("ann.build", "ann")(AnnIndex.build(s, emb.filter(col("vec_id") % 3 =!= 2), dir))
    tr.span("ann.append", "ann")(AnnIndex.append(s, emb.filter(col("vec_id") % 3 === 2), dir))
    tr.span("ann.delete", "ann")(AnnIndex.delete(s, deleted.toSeq.toDF("vec_id"), dir))
    val got = tr.span("ann.query", "ann")(AnnIndex.query(s, dir, 5).collect())
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val live = all.filterNot(v => deleted(v._1))
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    var hit = 0; var want = 0
    for ((qid, label, qv) <- live if label == 0 && norm(qv) > 0) {
      val exact = live.filter(v => v._1 != qid && norm(v._3) > 0).map { v =>
        val dot = qv.indices.map(i => qv(i).toDouble * v._3(i)).sum
        (-(dot / (norm(qv) * norm(v._3))), v._1)
      }.sorted.take(5).map(_._2).toSet
      want += exact.size
      hit += (exact intersect got.getOrElse(qid, Set.empty[Long])).size
    }
    val durs = tr.spans.map(sp => sp.name -> (sp.t1 - sp.t0) / 1e3).toMap
    r.record("ann") = Map("build_s" -> durs("ann.build"),
      "append_s" -> durs("ann.append"), "delete_s" -> durs("ann.delete"),
      "query_s" -> durs("ann.query"),
      "recall_at_5" -> (if (want == 0) 0.0 else hit.toDouble / want),
      "queries" -> got.size)
  }

  // --------------------------------------------------------- store_serve

  final case class Batch(id: Int, obs: DataFrame, cov: DataFrame,
      smp: DataFrame, bytes: Long)

  /** (chromosome, position, reference, observed, numer, denom, freq_ppm);
    * a NULL denom or frequency reads as -1. */
  type FreqRow = (String, Long, String, String, Long, Long, Long)

  def freqRows(rows: Array[Row]): Seq[FreqRow] = rows.toSeq.map { x =>
    def long(i: Int) = if (x.isNullAt(i)) -1L else x.getLong(i)
    (x.getString(0), x.getLong(1), x.getString(2), x.getString(3),
      long(4), long(5), long(6))
  }.sorted

  /** The one place the store and the one-shot computation differ: for a
    * point no committed sample covers, while no coverage-less sample has
    * been committed, `frequencyFrom` reports denom NULL and the store's
    * serving join (`VardaOps.serveFrom`) reports 0; freq_ppm is NULL in
    * both. The check accepts that pair only where `uncovered` (computed
    * from the committed batches, not from either result) says the point
    * is in that condition, and run.py reports how many rows it accepted,
    * so the divergence stays visible until the store is fixed. */
  def zeroForNullDenom(got: FreqRow, want: FreqRow,
      uncovered: (String, Long) => Boolean): Boolean =
    want._6 == -1L && got._6 == 0L && got._7 == -1L && want._7 == -1L &&
      got.copy(_6 = -1L) == want && uncovered(want._1, want._2)

  /** store_serve: a fresh store takes the batches in order, with point
    * and range lookups after each commit and after a final compaction.
    * Each set-up primes the commit and lookup paths on a throwaway store. */
  def storeServe(r: Run): Unit = {
    setup(r) { s =>
      val dir = s"${r.runDir}/setup-store-${System.nanoTime()}"
      val st = new FreqStore(s, dir, StoreBuckets)
      val keep = col("sample_id") % 4 === 0
      st.commit(0, VardaOps.obs(s, r.data).filter(keep),
        VardaOps.cov(s, r.data).filter(keep), VardaOps.smp(s, r.data).filter(keep))
      st.lookupPoints(Seq(("1", 1000L))).collect()
      st.lookupRange("1", 1000L, 1000L + RangeWidth).collect()
    }
    val sids = r.rng.shuffle(sampleIds(r))
    val cycle = storeInputs(r, "batches", sids.indices
      .groupBy(_ % StoreBatches).toSeq.sortBy(_._1).map(_._2.map(sids).toSet),
      PointsPerRound, RangesPerRound)
    var n = 0
    // one cycle per phase whatever `seconds` is: the cycle is the operation
    def phase(tr: Tracer, bounded: Boolean): (Seq[Op], Seq[Double]) = {
      n += 1
      val c0 = System.nanoTime()
      val (ops, dir) = storeCycle(r, tr, s"store-$n", cycle)
      val wall = (System.nanoTime() - c0) / 1e9
      if (n == 1) r.record("store_bytes") = dirBytes(new File(dir), parquetOnly = true)
      (ops, Seq(wall))
    }
    timedPhases(r)(phase) { tr => sweepLayer(r, tr); gateLayer(r, tr) }
    if (r.traced) annLayer(r)
  }

  /** The freqstore layer on a workload that does not serve: one batch
    * (every fourth sample), a few lookups, compaction. */
  def storeProbe(r: Run, tr: Tracer): Unit = {
    val cycle = storeInputs(r, "probe-batches",
      Seq(sampleIds(r).filter(_ % 4 == 0).toSet), 3, 1)
    r.record("probe_ops") = storeCycle(r, tr, "probe-store", cycle)._1.map(_.json)
  }

  def sampleIds(r: Run): Seq[Long] =
    VardaOps.smp(r.spark, r.data).select(col("sample_id").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq

  /** A store cycle's inputs: the batches, the expected state after each
    * commit, where after each commit a point has no covering and no
    * coverage-less sample, and the seeded lookups of each round (one
    * round per commit plus one after compaction). */
  final case class Cycle(batches: Seq[Batch], expected: Seq[Seq[FreqRow]],
      uncovered: Seq[(String, Long) => Boolean],
      rounds: Seq[(Seq[(String, Long)], Seq[(String, Long, Long)])])

  /** Untimed input generation: the obs/cov/smp fixture split by sample
    * into `groups`, written as parquet and read back like an import; the
    * expected states from the one-shot computation over the batches
    * committed so far; and the probe plan — present and absent points,
    * range windows. */
  def storeInputs(r: Run, tag: String, groups: Seq[Set[Long]], points: Int,
      ranges: Int): Cycle = {
    val s = r.spark
    val batches = groups.zipWithIndex.map { case (g, b) =>
      val pred = col("sample_id").isin(g.toSeq: _*)
      val base = s"${r.runDir}/$tag/b$b"
      Seq("obs" -> VardaOps.obs(s, r.data), "cov" -> VardaOps.cov(s, r.data),
          "smp" -> VardaOps.smp(s, r.data)).foreach { case (n, df) =>
        df.filter(pred).coalesce(1).write.mode("overwrite").parquet(s"$base/$n")
      }
      Batch(b, s.read.parquet(s"$base/obs"), s.read.parquet(s"$base/cov"),
        s.read.parquet(s"$base/smp"), dirBytes(new File(base)))
    }
    r.record("batch_bytes") = batches.map(_.bytes)
    val expected = batches.indices.map { b =>
      val upTo = batches.take(b + 1)
      freqRows(VardaOps.frequencyFrom(upTo.map(_.obs).reduce(_ unionByName _),
        upTo.map(_.cov).reduce(_ unionByName _),
        upTo.map(_.smp).reduce(_ unionByName _), withZyg = false).collect())
    }
    val covs = batches.map(_.cov.select(col("chromosome"), col("begin_pos").cast("long"),
      col("end_pos").cast("long")).collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))))
    val covless = batches.map(_.smp.filter(!col("has_coverage")).count() > 0)
    val uncovered = batches.indices.map { b =>
      val byChrom: Map[String, Seq[(String, Long, Long)]] =
        covs.take(b + 1).flatten.groupBy(_._1)
      val anyCovless = covless.take(b + 1).contains(true)
      (ch: String, p: Long) => !anyCovless &&
        !byChrom.getOrElse(ch, Nil).exists(iv => iv._2 <= p && p <= iv._3)
    }
    val chroms = (0 until 22).map(k => if (k == 20) "X" else if (k == 21) "MT"
      else (k + 1).toString)
    val everywhere = expected.last.map(x => (x._1, x._2)).toSet
    val rounds = (0 to batches.size).map { i =>
      val pres = expected(math.min(i, batches.size - 1))
        .map(x => (x._1, x._2)).distinct.toIndexedSeq
      val pts = (0 until points).map { j =>
        if (j % 3 != 2) pres(r.rng.nextInt(pres.size))
        else Iterator.continually((chroms(r.rng.nextInt(chroms.size)),
          1000L + r.rng.nextInt(100000))).find(p => !everywhere(p)).get
      }
      val rs = (0 until ranges).map { _ =>
        val b = 1000L + r.rng.nextInt(100000 - RangeWidth.toInt)
        (chroms(r.rng.nextInt(chroms.size)), b, b + RangeWidth)
      }
      (pts, rs)
    }
    Cycle(batches, expected, uncovered, rounds)
  }

  /** One cycle on a fresh store under `name`; returns its operations and
    * the store's directory. */
  def storeCycle(r: Run, tr: Tracer, name: String, c: Cycle): (Seq[Op], String) = {
    val dir = s"${r.runDir}/$name"
    val ops = mutable.ArrayBuffer.empty[Op]
    val st = new FreqStore(r.spark, dir, StoreBuckets)
    /** Lookup round `i`, against the state after commit `b`. */
    def round(i: Int, b: Int): Unit = {
      val liveFiles = if (tr.on) st.serve().inputFiles.length else 0
      val (pts, ranges) = c.rounds(i)
      val exp = c.expected(b)
      for ((ch, p) <- pts) ops += serveOp(tr, "point", s"$ch:$p", i,
        st.lookupPoints(Seq((ch, p))), exp.filter(x => x._1 == ch && x._2 == p),
        c.uncovered(b), liveFiles)
      for ((ch, lo, hi) <- ranges) ops += serveOp(tr, "range", s"$ch:$lo-$hi", i,
        st.lookupRange(ch, lo, hi),
        exp.filter(x => x._1 == ch && x._2 >= lo && x._2 <= hi), c.uncovered(b),
        liveFiles)
    }
    for (b <- c.batches) {
      ops += timedOp(tr, "commit", s"batch${b.id}", b.id) {
        st.commit(b.id, b.obs, b.cov, b.smp)
      }
      round(b.id, b.id)
    }
    ops += timedOp(tr, "compact", "compact", c.batches.size)(st.compact())
    round(c.batches.size, c.batches.size - 1)
    (ops.toSeq, dir)
  }

  def timedOp(tr: Tracer, kind: String, name: String, pass: Int)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    try {
      tr.span(s"$kind:$name", "freqstore")(body)
      Op(kind, name, pass, (System.nanoTime() - t0) / 1e9, ok = true)
    } catch { case e: Throwable =>
      Op(kind, name, pass, (System.nanoTime() - t0) / 1e9, ok = false,
        err = e.toString.take(300))
    }
  }

  /** One timed lookup, checked value for value against `want`. The file
    * counts are read after the clock stops. */
  def serveOp(tr: Tracer, kind: String, name: String, pass: Int,
      build: => DataFrame, want: Seq[FreqRow], uncovered: (String, Long) => Boolean,
      liveFiles: Int): Op = {
    val t0 = System.nanoTime()
    try {
      val (df, got) = tr.span(s"$kind:$name", "op") {
        val df = tr.ruleSpan("builder", "builders")(build)
        planPhases(tr, df)
        (df, tr.span("execute", "exec")(freqRows(df.collect())))
      }
      val lat = (System.nanoTime() - t0) / 1e9
      val zeroDenoms = got.zip(want).count { case (g, w) => zeroForNullDenom(g, w, uncovered) }
      val extra: Map[String, Any] = Map("denom_zero_for_null" -> zeroDenoms) ++
        (if (tr.on) Map("files" -> df.inputFiles.length, "live_files" -> liveFiles)
         else Map.empty)
      val same = got.size == want.size && got.zip(want).forall { case (g, w) =>
        g == w || zeroForNullDenom(g, w, uncovered) }
      if (same) Op(kind, name, pass, lat, ok = true, rows = got.size, extra = extra)
      else Op(kind, name, pass, lat, ok = false, rows = got.size,
        err = s"lookup mismatch: got ${got.take(3)} want ${want.take(3)}",
        extra = extra)
    } catch { case e: Throwable =>
      Op(kind, name, pass, (System.nanoTime() - t0) / 1e9, ok = false,
        err = e.toString.take(300))
    }
  }

  // ------------------------------------------------------------- helpers

  def families: Map[String, String] = {
    import graft.ops._
    val llm = (Llm.queries.keySet ++ Analysis.queries.keySet ++
      Pipeline.queries.keySet).map(_ -> "llm")
    val varda = VardaOps.queries.keySet.map(_ -> "varda")
    (llm ++ varda).toMap
  }

  /** Each size gate's input as the program sees it (`Tables.inputBytes`)
    * and its default threshold; run.py compares the bytes with its own
    * file stat. */
  def gateInputs(r: Run): Map[String, Any] = Map(
    "orders_input_bytes" -> Tables.inputBytes(r.spark, r.data, "orders"),
    "events_input_bytes" -> Tables.inputBytes(r.spark, r.data, "events")) ++
    gates.map { case (_, _, k, v) => k -> r.spark.conf.get(k, v.toString).toLong }

  def servicesRegistered(): Boolean =
    getClass.getClassLoader.getResources(
      "META-INF/services/org.apache.spark.sql.sources.DataSourceRegister")
      .asScala.exists { u =>
        val src = scala.io.Source.fromURL(u)
        try src.mkString.contains("graft.sources.FreqStoreDataSource")
        finally src.close()
      }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Time the JIT compiler threads have spent compiling, summed. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def classesLoaded(): Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString(",")
    catch { case _: Throwable => "unavailable" }

  def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  def dirBytes(f: File, parquetOnly: Boolean = false): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes(_, parquetOnly)).sum
    else if (!parquetOnly || f.getName.endsWith(".parquet")) f.length()
    else 0L
}
