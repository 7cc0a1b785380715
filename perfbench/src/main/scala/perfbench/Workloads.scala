package perfbench

import java.io.File
import java.sql.Date
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.api.Api
import graft.streaming.Streaming

/** Operations completed in one measurement window. `lat` holds one
  * latency per operation in milliseconds; `rows` counts the rows
  * (facts, IPs or table rows) those operations annotated.
  */
final case class Window(lat: Seq[Double], rows: Long, t0: Long, t1: Long,
    threads: Int) {
  def seconds: Double = (t1 - t0) / 1e9
  def ops: Int = lat.size
}

/** One API request: a batch of probes for one date. */
final case class Request(date: Date, probes: IndexedSeq[World.Probe]) {
  def snapshot: Int = World.snapshotFor(date)
}

/** A workload: inputs made from the seed, a measurement loop, and a
  * sample of its inputs for the traced stage sweep.
  */
trait Workload {
  /** Build inputs and state the loop needs beyond set-up (untimed). */
  def prepare(): Unit
  /** A few operations before the window, so it starts on compiled
    * plans and warm code (untimed).
    */
  def warmup(): Unit
  /** Run operations until `seconds` have passed. */
  def run(seconds: Double): Window
  /** Inputs for the traced stage sweep: (IPs with column `ip`, date). */
  def sample: Seq[(DataFrame, Date)]
  /** Names of the top-level spans that cover the loop's time. */
  def spans: Set[String]
}

object Workloads {
  val Names: Seq[String] = Seq("etl_stream", "api_batches")

  /** The reference client's per-request deadline (api-v2.go:311). */
  val DeadlineMs = 10000.0

  val ipSchema: StructType = StructType(Seq(StructField("ip", StringType)))

  def ipFrame(ctx: Ctx, probes: Seq[World.Probe]): DataFrame =
    ctx.spark.createDataFrame(probes.map(p => Row(p.ip)).asJava, ipSchema)

  def plusDays(d: Date, n: Int): Date = Date.valueOf(d.toLocalDate.plusDays(n))

  /** Batch sizes by the reference's size buckets <5/5+/20+/100+/400+
    * (handler.go:270-283): a fixed cycle of 20 requests, 6/5/4/3/2 per
    * bucket. The cycle does not depend on the seed, so every seed
    * sends the same amount of work; the seed picks dates and IPs.
    */
  val BatchSizes: IndexedSeq[Int] = IndexedSeq(2, 700, 9, 40, 1, 150, 14, 3, 60,
    250, 4, 6, 90, 1000, 1, 17, 25, 300, 3, 11)

  /** Request `k` of client stream `stream`, for a date across the three
    * snapshots (with some before the first, which clamp to it).
    */
  def request(w: World, stream: Long, k: Long): Request = {
    val n = BatchSizes(((k + 7 * stream) % BatchSizes.size).toInt)
    val r = w.h(11, stream, k)
    val date = plusDays(World.SnapshotDates.head, java.lang.Math.floorMod(r, 110L).toInt - 15)
    val s = World.snapshotFor(date)
    val stream2 = (stream << 24) ^ k
    Request(date, (0 until n).map(i => w.probe(stream2, i, s)))
  }

  private val mapper = new ObjectMapper()

  private def text(n: JsonNode, f: String): Option[String] =
    Option(n).flatMap(x => Option(x.get(f))).map(_.asText)

  /** Compare a v2 response with the oracle. `version` is the version of
    * the directory that served it.
    */
  def checkResponse(w: World, json: String, req: Request, served: Api.Snapshot,
      version: Int): Option[String] = {
    val root = mapper.readTree(json)
    val want = World.SnapshotDates(req.snapshot)
    if (served.date != want)
      return Some(s"as-of picked ${served.date}, want $want")
    if (text(root, "AnnotatorDate") != Some(want.toString))
      return Some(s"AnnotatorDate ${text(root, "AnnotatorDate")}")
    val ann = root.get("Annotations")
    req.probes.iterator.map { p =>
      val node = Option(ann).map(_.get(p.ip)).orNull
      if (node == null) Some(s"no annotation for ${p.ip}")
      else {
        val geo = node.get("Geo")
        val net = node.get("Network")
        val city = text(geo, "city")
        val asn = Option(net).flatMap(n => Option(n.get("asn"))).map(_.asLong)
        val name = text(net, "as_name")
        val wantName = p.expect.asn.map(a => w.asName(a, version).getOrElse(""))
        if (city != p.expect.loc.map(w.city)) Some(s"${p.ip}: city $city, want ${p.expect.loc.map(w.city)}")
        else if (asn != p.expect.asn) Some(s"${p.ip}: asn $asn, want ${p.expect.asn}")
        else if (name != wantName) Some(s"${p.ip}: as_name $name, want $wantName")
        else if (text(geo, "missing") != Some((p.expect.loc.isEmpty).toString))
          Some(s"${p.ip}: geo.missing ${text(geo, "missing")}")
        else None
      }
    }.collectFirst { case Some(m) => m }
  }

  /** Run `clients` closed-loop clients until `seconds` have passed;
    * each client issues its next operation when the previous returns.
    * `op(client, k)` returns the rows it annotated and its latency
    * in milliseconds.
    */
  def closedLoop(clients: Int, seconds: Double)(op: (Int, Long) => (Long, Double)): Window = {
    val lat = new ConcurrentLinkedQueue[Double]()
    val rows = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val ends = new java.util.concurrent.atomic.AtomicLong(t0)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        try {
          var k = 0L
          while (System.nanoTime() < deadline) {
            val (n, ms) = op(c, k)
            rows.addAndGet(n)
            lat.add(ms)
            val e = System.nanoTime()
            ends.accumulateAndGet(e, math.max)
            k += 1
          }
        } catch { case t: Throwable => errors.add(t) }
      }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    Window(lat.asScala.toSeq, rows.get, t0, ends.get, clients)
  }

  /** Per-micro-batch latencies of a finished stream query, also
    * recorded as streaming-layer counters: batches, batch time, and
    * the time spent in the batch function (`addBatch`), the rest of
    * a trigger being the engine's bookkeeping. Every trigger is also
    * recorded as a `streaming.trigger` span on the calling thread.
    */
  def recordProgress(ctx: Ctx, q: StreamingQuery): Seq[Double] = {
    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val lane = Thread.currentThread().getId
    q.recentProgress.foreach { p =>
      val start = Main.nanoOfWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      ctx.tr.add("streaming.trigger", lane, start,
        start + (ms(p, "triggerExecution") * 1e6).toLong)
    }
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val lat = progress.map(ms(_, "triggerExecution"))
    ctx.tr.count("streaming.batches", progress.size)
    ctx.tr.count("streaming.batch_ms", lat.sum)
    ctx.tr.count("streaming.add_batch_ms", progress.map(ms(_, "addBatch")).sum)
    lat
  }

  /** One v2 request through the program: select, annotate, encode.
    * A request issued after the swap of version `floor` returned must
    * be served by that version or a newer one.
    */
  def serve(ctx: Ctx, ref: Streaming.DirectoryRef, req: Request, name: String,
      floor: Int = 0): (Long, Double) = {
    val ips = ctx.tr("bench.input")(ipFrame(ctx, req.probes))
    val t0 = System.nanoTime()
    val dir = ref.get
    val snap = ctx.tr("api.select")(dir.forDate(req.date))
    val ann = ctx.tr("api.annotate")(Api.annotateV2(ctx.spark, dir, req.date, ips))
    val json = ctx.tr("api.encode")(Api.toV2ResponseJson(ann, snap.date))
    val ms = (System.nanoTime() - t0) / 1e6
    val v = Setup.versionOf(dir)
    ctx.served(v, req.snapshot)
    val bad = ctx.tr("bench.check") {
      if (v < floor) Some(s"served version $v after version $floor was swapped in")
      else checkResponse(ctx.world, json, req, snap, v)
    }
    ctx.outcome(name, bad, late = ms > DeadlineMs)
    (req.probes.size.toLong, ms)
  }
}

import Workloads._

/** v2 `batch_annotate`: 4 closed-loop clients, random dates. */
final class ApiBatches(ctx: Ctx, ref: Streaming.DirectoryRef, version: Int)
    extends Workload {
  val clients = 4
  def prepare(): Unit = ()
  def warmup(): Unit = closedLoop(clients, 4.0) { (c, k) =>
    serve(ctx, ref, request(ctx.world, 900 + c, k), "api_batches warm-up", version)
  }
  def run(seconds: Double): Window =
    closedLoop(clients, seconds) { (c, k) =>
      serve(ctx, ref, request(ctx.world, 100 + c, k), "api_batches request", version)
    }
  def sample: Seq[(DataFrame, Date)] = (0 until 8).map { k =>
    val r = request(ctx.world, 100, k)
    (ipFrame(ctx, r.probes), r.date)
  }
  def spans: Set[String] =
    Set("bench.input", "api.select", "api.annotate", "api.encode", "bench.check")
}

/** M-Lab batch ETL: parquet fact files, one date per file, through
  * `Streaming.annotateStreamTo` into a checking sink.
  */
final class EtlStream(ctx: Ctx, ref: Streaming.DirectoryRef, version: Int,
    files: Int, rowsPerFile: Int) extends Workload {
  private var expectMiss = Map.empty[Date, Long]
  private var passes = 0
  /** Fact files in directories of two; a pass streams one directory,
    * so the window ends at most one short pass after its deadline.
    */
  private val groups: IndexedSeq[File] = (0 until (files + 1) / 2).map { g =>
    val d = new File(ctx.work, s"facts/g$g")
    d.mkdirs()
    d
  }

  val factSchema: StructType = StructType(Seq(
    StructField("ip", StringType), StructField("date", DateType),
    StructField("exp_city", StringType), StructField("exp_asn", LongType),
    StructField("exp_as_name", StringType)))

  def dateOf(f: Int): Date = plusDays(World.SnapshotDates(f % 3), 3 + f)

  def prepare(): Unit = {
    val w = ctx.world
    val v = version
    val sp = ctx.spark
    expectMiss = (0 until files).map { f =>
      val d = dateOf(f)
      val s = World.snapshotFor(d)
      val misses = sp.sparkContext.longAccumulator
      val rdd = sp.sparkContext.range(0L, rowsPerFile.toLong, 1L, 4).map { i =>
        val p = w.probe(1L << 40 | f, i, s)
        if (p.expect.loc.isEmpty) misses.add(1)
        Row(p.ip, d, p.expect.loc.map(w.city).orNull,
          p.expect.asn.map(Long.box).orNull,
          p.expect.asn.map(a => w.asName(a, v).getOrElse("")).orNull)
      }
      val tmp = new File(ctx.work, s"facts-tmp/$f")
      // small row groups, so one file splits over the cores
      sp.createDataFrame(rdd, factSchema).coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 256 << 10).parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(groups(f / 2), f"f$f%03d.parquet")
      require(part.renameTo(dst), s"move $part")
      // the stream source takes files in modification-time order
      dst.setLastModified(1700000000000L + f * 1000L)
      d -> misses.value.longValue
    }.toMap
  }

  private def sink(batches: ConcurrentLinkedQueue[Long])(out: DataFrame, id: Long): Unit = {
    val mismatch = !(col("geo.city") <=> col("exp_city")) ||
      !(col("network.asn") <=> col("exp_asn")) ||
      !(col("network.as_name") <=> col("exp_as_name"))
    val r = ctx.tr("bench.sink")(out.agg(count(lit(1)),
      sum(when(col("geo.missing"), 1L).otherwise(0L)),
      sum(when(mismatch, 1L).otherwise(0L)),
      first(col("date")),
      bit_xor(xxhash64(col("geo"), col("network")))).collect()(0))
    val d = r.getDate(3)
    ctx.served(Setup.versionOf(ref.get), World.snapshotFor(d))
    val bad =
      if (r.getLong(2) != 0) Some(s"${r.getLong(2)} rows differ from the oracle on $d")
      else if (r.getLong(1) != expectMiss(d)) Some(s"geo misses ${r.getLong(1)}, want ${expectMiss(d)} on $d")
      else None
    ctx.outcome(s"etl_stream batch $d", bad)
    batches.add(r.getLong(0))
  }

  /** One pass: every file in `dir` once, one micro-batch per file. */
  def pass(dir: File): (Seq[Double], Long) = {
    passes += 1
    val sp = ctx.spark
    val seen = new ConcurrentLinkedQueue[Long]()
    val q = ctx.tr("streaming.start") {
      val src = sp.readStream.schema(factSchema).option("maxFilesPerTrigger", 1)
        .parquet(dir.getPath)
      Streaming.annotateStreamTo(sp, src, ref, sink(seen))
        .option("checkpointLocation", new File(ctx.work, s"chk/$passes").getPath)
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    (recordProgress(ctx, q), seen.asScala.sum)
  }

  private var nextGroup = 0

  def warmup(): Unit = pass(groups(0))

  def run(seconds: Double): Window = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var lat = Seq.empty[Double]
    var rows = 0L
    while (System.nanoTime() < deadline) {
      val g = groups(nextGroup % groups.size)
      nextGroup += 1
      val (l, n) = pass(g)
      lat ++= l; rows += n
    }
    Window(lat, rows, t0, System.nanoTime(), 1)
  }

  def sample: Seq[(DataFrame, Date)] =
    Seq((ctx.spark.read.parquet(new File(groups(0), "f000.parquet").getPath).select("ip"),
      dateOf(0)))
  /** Query start-up on the loop's thread, then the query's triggers as
    * its progress reports time them; the gaps between (query stop,
    * progress polling) stay unattributed.
    */
  def spans: Set[String] = Set("streaming.start", "streaming.trigger")
}
