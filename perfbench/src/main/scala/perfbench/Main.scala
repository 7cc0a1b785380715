package perfbench

import java.io.File
import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.api.{Annotate, Api}
import graft.functions.IpFunctions.{ip_to_bin, rewrite6to4}
import graft.operators.{MergeOnRead, RangePayload, RangeStructLookup, ZoneMap}
import graft.streaming.Streaming

/** Benchmark entry point:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--scale bench|reference]
  * }}}
  *
  * Prints the metrics as one JSON line on stdout (last line) and
  * exits 0 when every checked output matched the oracle, 3 when one
  * did not, 1 on error.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, scale: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", new File(m("work")), m.getOrElse("scale", "bench"))
    require(Workloads.Names.contains(o.workload), s"unknown workload ${o.workload}")
    require(World.Scales.contains(o.scale), s"unknown scale ${o.scale}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      // the inputs are small, so splits are scaled down with them:
      // one fact file still spreads over the 4 cores
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "chk").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Graft.install(s)
    s
  }

  /** Sizes for nproc = 4 cores, one process. */
  def workload(name: String, ctx: Ctx, ref: Streaming.DirectoryRef,
      version: Int): Workload =
    name match {
      case "etl_stream" => new EtlStream(ctx, ref, version, files = 6, rowsPerFile = 120000)
      case "api_batches" => new ApiBatches(ctx, ref, version)
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.work.mkdirs()
    val spark = session(o.work)
    val code =
      try run(o, spark)
      catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] error: $t")
          t.printStackTrace()
          1
      } finally {
        spark.streams.active.foreach(_.stop())
        spark.stop()
      }
    System.exit(code)
  }

  def run(o: Opts, spark: SparkSession): Int = {
    // tracing starts with the traced window; set-up is untraced
    val tr = new Tracer(false)
    val ctx = new Ctx(spark, World.scaled(o.seed, o.scale), o.work, tr)
    ctx.phase("session ready")
    // set-up runs three times for a median; a traced run does not
    // report set-up time and sets up once
    val (version, ref, setupS) = Setup.repeated(ctx, times = if (o.trace) 1 else 3)
    val wl = workload(o.workload, ctx, ref, version)
    ctx.phase("set-up done")
    wl.prepare()
    wl.warmup()
    ctx.phase("workload prepared")

    val m = new Metrics
    if (!o.trace) {
      val w = wl.run(o.seconds)
      ctx.phase(s"window done: ${w.ops} ops")
      endToEnd(m, w, setupS)
    } else {
      // untraced quarter, traced half, untraced quarter: the traced
      // rate against the rate of the quarters around it is the tracing
      // overhead, with drift during the run cancelling out
      val before = wl.run(o.seconds / 4)
      tr.enabled = true
      val engine = new EngineProbe(spark,
        () => Setup.snapshotRdds.asScala.map(_.intValue).toSet)
      engine.install()
      val gc0 = JvmProbe.gcSeconds
      val w = wl.run(o.seconds / 2)
      engine.uninstall()
      val gc = JvmProbe.gcSeconds - gc0
      tr.enabled = false
      val served = ctx.snapshotsServed
      val after = wl.run(o.seconds / 4)
      tr.enabled = true
      ctx.phase("windows done")
      val sw = Sweep(ctx, ref, wl)
      ctx.phase("sweep done")
      perLayer(m, ctx, wl, (before.ops + after.ops) / (before.seconds + after.seconds),
        w, engine, gc, served, sw)
    }
    val line = resultLine(ctx.wrong.get == 0, ctx.attempted.get, ctx.failed.get, m)
    println(line)
    if (ctx.wrong.get == 0) 0 else 3
  }

  def endToEnd(m: Metrics, w: Window, setupS: Double): Unit = {
    require(w.ops > 0, "no operation completed in the window")
    m("setup_s", setupS, "s")
    m("rows_per_s", w.rows / w.seconds, "1/s")
    m("p50_ms", Stats.quantile(w.lat, 0.5), "ms")
    m("p90_ms", Stats.quantile(w.lat, 0.9), "ms")
    m("heap_live_mb", JvmProbe.liveHeapMb(), "MB")
  }

  def perLayer(m: Metrics, ctx: Ctx, wl: Workload, plainRate: Double, w: Window,
      e: EngineProbe, gcS: Double, served: Double, sw: Sweep.Result): Unit = {
    val tr = ctx.tr
    val ops = math.max(1, w.ops).toDouble
    val wall = w.threads * w.seconds
    val attributed = tr.attributed(w.t0, w.t1, wl.spans)
    val indexBuild = tr.perCall("stage.index_build")
    val p50 = Stats.quantile(w.lat, 0.5) / 1e3
    val batches = tr.counter("streaming.batches")
    val perBatch = 1.0 / math.max(1.0, batches)

    m("sources.ingest_s", tr.perCall("sources.ingest"), "s")
    m("sources.rows", sw.sourceRows, "count")
    m("sources.rejected_rows", sw.rejectedRows, "count")
    m("ranges.flatten_s", tr.perCall("stage.flatten"), "s")
    m("ranges.rows_in", sw.flattenIn, "count")
    m("ranges.rows_out", sw.flattenOut, "count")
    m("annotate.build_geo_s", tr.perCall("stage.build_geo"), "s")
    m("annotate.build_asn_s", tr.perCall("stage.build_asn"), "s")
    m("snapshot.persist_s", tr.perCall("snapshot.persist"), "s")
    m("snapshot.load_s", tr.perCall("snapshot.load"), "s")
    m("lookup.index_build_s", indexBuild, "s")
    m("lookup.index_builds", e.indexBuilds.get, "count")
    m("lookup.snapshots_served", served, "count")
    m("lookup.index_rows", sw.indexRows, "count")
    // measured builds per operation of the traced half, at the
    // sweep's per-build time
    m("lookup.index_build_share_of_p50", e.indexBuilds.get / ops * indexBuild / p50, "ratio")
    m("lookup.probe_s", tr.perCall("stage.probe"), "s")
    m("lookup.probes", sw.probes, "count")
    m("lookup.miss_frac", sw.misses / math.max(1.0, sw.probes), "ratio")
    m("functions.parse_s", tr.perCall("stage.parse"), "s")
    m("functions.unparseable_frac", sw.unparseable / math.max(1.0, sw.parsed), "ratio")
    m("api.select_s", tr.perCall("stage.select"), "s")
    m("api.annotate_s", tr.perCall("stage.annotate"), "s")
    m("api.encode_s", tr.perCall("stage.encode"), "s")
    val addBatchS = tr.counter("streaming.add_batch_ms") / 1e3
    m("streaming.batches", batches, "count")
    m("streaming.batch_s", tr.counter("streaming.batch_ms") / 1e3 * perBatch, "s")
    m("streaming.bookkeeping_s", (tr.counter("streaming.batch_ms") / 1e3 - addBatchS) * perBatch, "s")
    m("streaming.dispatch_s", (addBatchS - tr.total("bench.sink")._1) * perBatch, "s")
    m("streaming.sink_s", tr.total("bench.sink")._1 * perBatch, "s")
    m("streaming.swap_s", tr.perCall("streaming.swap"), "s")
    m("mor.append_s", tr.perCall("mor.append"), "s")
    m("mor.compact_s", tr.perCall("mor.compact"), "s")
    m("mor.read_s", tr.perCall("mor.read"), "s")
    m("mor.files_read", sw.filesRead, "count")
    m("mor.files_total", sw.filesTotal, "count")
    m("mor.manifest_versions", sw.manifestVersions, "count")
    m("spark.plan_s", e.planMs.get / 1e3 / ops, "s")
    m("spark.exec_s", e.execNs.get / 1e9 / ops, "s")
    m("spark.jobs", e.jobs.get / ops, "count")
    m("spark.tasks", e.tasks.get / ops, "count")
    m("spark.scheduler_delay_s", e.schedDelayMs.get / 1e3 / ops, "s")
    m("spark.driver_gap_s", e.idleSeconds(wallMs(w.t0), wallMs(w.t1)) / ops, "s")
    m("jvm.gc_s", gcS / ops, "s")
    m("loop.ops", w.ops, "count")
    m("loop.ops_per_s", w.ops / w.seconds, "1/s")
    m("trace.overhead_frac", 1.0 - (w.ops / w.seconds) / plainRate, "ratio")
    m("trace.attributed_frac", attributed / wall, "ratio")
    m("trace.unattributed_s", wall - attributed, "s")
    m("failed_frac", ctx.failed.get.toDouble / math.max(1L, ctx.attempted.get), "ratio")
  }

  /** Wall-clock milliseconds of a `System.nanoTime` reading (listener
    * events carry wall-clock times).
    */
  private val nanoToWallMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  def wallMs(nano: Long): Long = nano / 1000000L + nanoToWallMs
  def nanoOfWallMs(ms: Long): Long = (ms - nanoToWallMs) * 1000000L

  final class Metrics {
    val items = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def apply(name: String, v: Double, unit: String): Unit = {
      require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
      items(name) = (v, unit)
    }
  }

  def resultLine(correct: Boolean, attempted: Long, failed: Long, m: Metrics): String = {
    val ms = m.items.map { case (k, (v, u)) =>
      s""""$k": {"value": ${java.lang.Double.toString(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** The traced run's stage sweep: each annotate stage called on its
  * own over the workload's sampled inputs, plus one pass of every
  * layer the workload's loop does not reach, so every per-layer
  * metric is measured on every workload.
  */
object Sweep {
  final case class Result(sourceRows: Double, rejectedRows: Double,
      flattenIn: Double, flattenOut: Double, indexRows: Double,
      probes: Double, misses: Double, parsed: Double, unparseable: Double,
      filesRead: Double, filesTotal: Double, manifestVersions: Double)

  def apply(ctx: Ctx, ref: Streaming.DirectoryRef, wl: Workload): Result = {
    val sp = ctx.spark
    val tr = ctx.tr
    val dir = ref.get

    // one refresh: reload the newest snapshot warm with AS names of a
    // new version, swap in a directory holding it, and check that a
    // request issued after the swap returned is served by it
    val version = Setup.versionOf(dir) + 1
    val src = Setup.writeSources(ctx, 2, version)
    val fresh = Setup.load(ctx, src, World.SnapshotDates.last)
    val next = Api.Directory(dir.snapshots.init :+ fresh)
    Setup.register(next, version)
    tr("streaming.swap")(ref.swap(next))
    Workloads.serve(ctx, ref, Request(Workloads.plusDays(World.SnapshotDates.last, 5),
      (0 until 200).map(i => ctx.world.probe(7L << 40, i, 2))), "request after swap", version)

    // sources → flatten → build over the newest snapshot's files
    val (b, l, p, n) = Setup.ingest(ctx, src)
    val rows = tr("stage.source_rows")(Seq(b, l, p, n).map(_.count()).sum)
    val rejected = src.lines - rows
    ctx.outcome("sources reject count",
      if (rejected == 4 * ctx.world.JunkRows) None
      else Some(s"rejected $rejected rows, generated ${4 * ctx.world.JunkRows} bad ones"))
    val flatIn = b.count() + p.count()
    val flatOut = tr("stage.flatten")(Setup.flatten(b).count() + Setup.flatten(p).count())
    tr("stage.build_geo")(Annotate.buildGeoSnapshot(b, l).count())
    tr("stage.build_asn")(Annotate.buildAsnSnapshot(p, n).count())

    // the annotate stages, one call each, over the sampled inputs
    var indexRows = 0.0
    var probes, misses, parsed, unparseable = 0.0
    val sample = wl.sample
    sample.foreach { case (ips, date) =>
      val snap = tr("stage.select")(dir.forDate(date))
      val bin = ip_to_bin(rewrite6to4(col("ip")))
      val pr = tr("stage.parse")(
        ips.select(bin.as("b")).agg(count(col("b")), count(lit(1))).collect()(0))
      parsed += pr.getLong(1); unparseable += pr.getLong(1) - pr.getLong(0)
      val (gbc, gs) = tr("stage.index_build")(RangeStructLookup.buildIndex(sp, snap.geo))
      val (abc, as) = tr("stage.index_build")(RangeStructLookup.buildIndex(sp, snap.asn))
      indexRows = gbc.value.payloads.length + abc.value.payloads.length
      val bins = ips.select(bin.as("b")).filter(col("b").isNotNull).localCheckpoint()
      val b0 = GraftBridge.expression(col("b"))
      val hit = tr("stage.probe")(bins.select(
          GraftBridge.column(RangePayload(b0, gbc, gs)).as("g"),
          GraftBridge.column(RangePayload(b0, abc, as)).as("a"))
        .agg(count(col("g")), count(col("a")), count(lit(1))).collect()(0))
      probes += hit.getLong(2); misses += hit.getLong(2) - hit.getLong(0)
      tr("stage.annotate") {
        Annotate.annotate(sp, ips, col("ip"), snap.geo, snap.asn)
          .agg(bit_xor(xxhash64(col("geo"), col("network")))).collect()
      }
      val done = Annotate.annotate(sp, ips.limit(2000), col("ip"), snap.geo, snap.asn)
        .localCheckpoint()
      tr("stage.encode")(Api.toV2ResponseJson(done, snap.date))
      gbc.destroy(); abc.destroy()
    }

    // one micro-batch through the streaming layer when the loop has none
    if (tr.counter("streaming.batches") == 0) {
      val (ips, date) = sample.head
      val f = new File(ctx.work, "sweep-stream")
      ips.withColumn("date", lit(date)).coalesce(1).write.mode("overwrite")
        .parquet(new File(f, "in").getPath)
      val q = Streaming.annotateStreamTo(sp,
          sp.readStream.schema(StructType(Seq(StructField("ip", StringType),
            StructField("date", DateType)))).parquet(new File(f, "in").getPath),
          ref, (out, _) => { tr("bench.sink")(out.agg(count(lit(1))).collect()); () })
        .option("checkpointLocation", new File(f, "chk").getPath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Workloads.recordProgress(ctx, q)
    }

    // the merge-on-read layer: re-annotation of the sampled rows kept
    // in a small table — create, append, read, compact, read
    val table = new File(ctx.work, "sweep-mor").getPath
    val withId = sample.head._1.limit(5000)
      .withColumn("id", monotonically_increasing_id()).localCheckpoint()
    def ann(d: Date) = {
      val s = dir.forDate(d)
      Annotate.annotate(sp, withId, col("ip"), s.geo, s.asn)
        .select(col("id"), col("ip"), col("geo.country_code").as("country"),
          col("network.asn").as("asn"))
    }
    MergeOnRead.create(ann(World.SnapshotDates.head), table, Seq("id"), nBuckets = 8)
    MergeOnRead.buildZoneMap(sp, table, Seq("asn"), Seq("country"))
    tr("mor.append")(MergeOnRead.append(ann(World.SnapshotDates.last)
      .withColumn("op", lit("U")).withColumn("seq", lit(1L)), table))
    def read() = tr("mor.read")(MergeOnRead.readWhere(sp, table,
      Seq(EqualTo("country", "US"))).filter(col("country") === "US").count())
    read()
    tr("mor.compact")(MergeOnRead.compact(sp, table, clusterBy = Seq("country")))
    MergeOnRead.refreshZoneMap(sp, table)
    read()
    val zm = MergeOnRead.zoneMapPath(table)
    val pruned = World.Countries.toSeq.take(4).map(c =>
      ZoneMap.prune(sp, zm, Seq(EqualTo("country", c))))
    Result(rows.toDouble, rejected.toDouble, flatIn.toDouble, flatOut.toDouble,
      indexRows, probes, misses, parsed, unparseable,
      pruned.map(_._1.size.toDouble).sum / pruned.size,
      pruned.map(_._2.toDouble).max,
      MergeOnRead.state(table).mv.toDouble)
  }
}
