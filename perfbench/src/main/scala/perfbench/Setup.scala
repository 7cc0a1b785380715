package perfbench

import java.io.File
import java.sql.Date
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.api.{Annotate, Api}
import graft.functions.IpFunctions.ip_family
import graft.operators.Ranges
import graft.sources.Ingest
import graft.streaming.Streaming

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val world: World, val work: File,
    val tr: Tracer) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  /** Operations whose output disagreed with the oracle. */
  val wrong = new AtomicLong
  private val logged = new java.util.concurrent.atomic.AtomicInteger

  /** Count one operation; a non-empty `mismatch` or `late` marks it
    * failed and is logged by name.
    */
  def outcome(op: String, mismatch: Option[String], late: Boolean = false): Unit = {
    attempted.incrementAndGet()
    mismatch.foreach { m =>
      wrong.incrementAndGet()
      failed.incrementAndGet()
      log(s"$op: output mismatch: $m")
    }
    if (mismatch.isEmpty && late) {
      failed.incrementAndGet()
      log(s"$op: past the 10 s client deadline")
    }
  }

  /** Log a failure by name; the first 50 of a run are printed. */
  def log(msg: String): Unit =
    if (logged.incrementAndGet() <= 50) System.err.println(s"[perfbench] FAILED $msg")

  private val born = System.nanoTime() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
  /** Progress note on stderr. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - born) / 1e9}%.1f s $what")

  private val servedSet = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int)]()

  /** Record that snapshot `snapshot` of directory version `version`
    * served an annotate call (traced runs only).
    */
  def served(version: Int, snapshot: Int): Unit =
    if (tr.enabled) servedSet.add((version, snapshot))

  def snapshotsServed: Double = servedSet.size.toDouble
}

/** Source files of one snapshot, in the formats sources.Ingest reads. */
final case class Src(blocks: File, locations: File, pfx2as: File,
    asNames: File, lines: Long)

/** Set-up: ingest → flatten → build → persist → install. This is the
  * path from a session to the first servable directory; a snapshot
  * refresh is the same path for one snapshot.
  */
object Setup {
  /** Directory versions by identity, so a response can be checked
    * against the version of the directory that served it.
    */
  private val versions = new java.util.IdentityHashMap[Api.Directory, Integer]()
  def versionOf(d: Api.Directory): Int =
    versions.synchronized(versions.get(d).intValue)

  /** Source files of snapshot `s` with AS names stamped with version
    * `v`. Range files depend on `s` only and are written once.
    */
  def writeSources(ctx: Ctx, s: Int, v: Int): Src = {
    val w = ctx.world
    val d = new File(ctx.work, s"src/s$s")
    val b = new File(d, "GeoLite2-City-Blocks.csv")
    val l = new File(d, "GeoLite2-City-Locations-en.csv")
    val p = new File(d, "routeviews.pfx2as")
    val n = new File(ctx.work, s"src/s$s-v$v/asnames.csv")
    val ranges = rangeLines.synchronized(rangeLines.getOrElseUpdate(s,
      w.writeBlocks(b, s) + w.writeLocations(l) + w.writePfx2as(p, s)))
    Src(b, l, p, n, ranges + w.writeAsNames(n, v))
  }
  private val rangeLines = scala.collection.mutable.Map[Int, Int]()

  /** The four Ingest reads of one snapshot. Each read runs its
    * per-file error-budget pass eagerly.
    */
  def ingest(ctx: Ctx, src: Src): (DataFrame, DataFrame, DataFrame, DataFrame) =
    ctx.tr("sources.ingest") {
      val sp = ctx.spark
      (Ingest.geoliteBlocks(sp, src.blocks.getPath),
        Ingest.geoliteLocations(sp, src.locations.getPath),
        Ingest.pfx2as(sp, src.pfx2as.getPath),
        Ingest.asNames(sp, src.asNames.getPath))
    }

  /** Load one snapshot and materialize it in memory: requests probe
    * the persisted tables, not the CSV lineage.
    */
  def load(ctx: Ctx, src: Src, date: Date): Api.Snapshot = ctx.tr("snapshot.load") {
    val (blocks, locs, pfx, names) = ingest(ctx, src)
    val geo = ctx.tr("annotate.build_geo")(Annotate.buildGeoSnapshot(blocks, locs))
    val asn = ctx.tr("annotate.build_asn")(Annotate.buildAsnSnapshot(pfx, names))
    ctx.tr("snapshot.persist") {
      geo.persist(StorageLevel.MEMORY_AND_DISK).count()
      asn.persist(StorageLevel.MEMORY_AND_DISK).count()
    }
    snapshotRdds.add(cachedRdd(geo))
    snapshotRdds.add(cachedRdd(asn))
    Api.Snapshot(date, geo, asn)
  }

  /** Ids of the RDDs holding the cached blocks of every snapshot table
    * loaded so far; a job that reads one scans a snapshot table.
    */
  val snapshotRdds: java.util.Set[Integer] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()

  private def cachedRdd(df: DataFrame): Int =
    ClassicConversions.castToImpl(df).queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    }.getOrElse(sys.error("snapshot table is not persisted"))

  def register(dir: Api.Directory, version: Int): Unit =
    versions.synchronized(versions.put(dir, version))

  /** Unpersist a directory that no request can reach any more, and
    * forget it, so it does not count in the live heap.
    */
  def release(dir: Api.Directory): Unit = {
    dir.snapshots.foreach { s => s.geo.unpersist(false); s.asn.unpersist(false) }
    versions.synchronized(versions.remove(dir))
  }

  /** Build the three-snapshot directory and install it in `ref`
    * (created on first use). Returns the directory, the ref and the
    * seconds it took.
    */
  def build(ctx: Ctx, srcs: Seq[Src], version: Int, ref: Option[Streaming.DirectoryRef])
      : (Api.Directory, Streaming.DirectoryRef, Double) = {
    val t0 = System.nanoTime()
    // the snapshots load concurrently, as independent datasets
    val snaps = srcs.zip(World.SnapshotDates).map { case (s, d) =>
      Future(load(ctx, s, d))(ExecutionContext.global)
    }.map(Await.result(_, Duration.Inf))
    val dir = Api.Directory(snaps)
    register(dir, version)
    val r = ref match {
      case Some(r) => ctx.tr("streaming.swap")(r.swap(dir)); r
      case None => ctx.tr("streaming.swap")(new Streaming.DirectoryRef(dir))
    }
    (dir, r, (System.nanoTime() - t0) / 1e9)
  }

  /** Set up `times` times and keep the last directory installed.
    * Set-up `v` loads AS names stamped with version `v`, so a request
    * served by an earlier directory shows. Returns the installed
    * version, its ref and the median set-up seconds.
    */
  def repeated(ctx: Ctx, times: Int): (Int, Streaming.DirectoryRef, Double) = {
    var last: Option[(Api.Directory, Streaming.DirectoryRef)] = None
    val secs = (1 to times).map { v =>
      val srcs = (0 until 3).map(s => writeSources(ctx, s, v))
      val (s, r, t) = Setup.build(ctx, srcs, v, last.map(_._2))
      last.foreach { case (prev, _) => release(prev) }
      last = Some((s, r))
      ctx.phase(f"set-up $t%.2f s")
      t
    }
    (times, last.get._2, Stats.median(secs))
  }

  /** Family-grouped flatten, exactly as the snapshot builders call it. */
  def flatten(df: DataFrame): DataFrame =
    Ranges.flattenRanges(df.withColumn("__f", ip_family(col("lo"))), Seq("__f"))
      .drop("__f")
}
