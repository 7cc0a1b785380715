package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.sql.Date

/** The benchmark's synthetic Internet, derived from one seed.
  *
  * Every range table is laid out arithmetically, so the expected
  * annotation of any generated probe follows from the probe's own
  * address — no second implementation of range search is involved:
  *
  *  - v4 geo: parent /16s `(11 + b/256).(b%256).0.0/16`; a /24 child at
  *    third octet t when `h(b,t) % 8 == 0`; inside some children a /26
  *    grandchild at `.64`. The innermost range wins.
  *  - v6 geo: parent /32s `2600:b::/32`; a /36 child for the top nibble
  *    t of the third hextet when `h(b,t) % 2 == 0`.
  *  - pfx2as: per parent one /16 (v4) or /32 (v6) entry, absent for
  *    ~10% of parents (a geo hit with an ASN miss); v4 parents also
  *    carry /20 children. ~1% of entries are multi-origin (`a_b`) or
  *    AS sets (`a,b`); the best ASN is the first.
  *  - snapshot `s` re-draws every payload, so an as-of mistake shows
  *    up as a wrong city or ASN. AS names carry the directory version
  *    `v`, so a stale snapshot after a swap shows up as a wrong name.
  */
final case class World(seed: Long, nV4: Int = 100, nV6: Int = 32,
    nLoc: Int = 4000, nAs: Int = 3000) {
  require(nV4 > 0 && nV4 <= 80 * 256 && nV6 > 0 && nV6 < 65536)
  import World._

  /** A pseudo-random draw keyed by the seed and `parts`. */
  def h(parts: Long*): Long =
    parts.foldLeft(mix(seed))((a, p) => mix(a ^ p))
  private def hmod(n: Int, parts: Long*): Int =
    java.lang.Math.floorMod(h(parts: _*), n.toLong).toInt

  def geoChild(b: Int, t: Int): Boolean = hmod(8, 1, b, t) == 0
  def geoGrand(b: Int, t: Int): Boolean =
    geoChild(b, t) && hmod(4, 2, b, t) == 0
  def loc(fam: Int, b: Int, k: Int, s: Int): Int = hmod(nLoc, 3, fam, b, k, s)
  def v6Child(b: Int, t: Int): Boolean = hmod(2, 4, b, t) == 0
  def asnParent(fam: Int, b: Int, s: Int): Boolean = hmod(10, 5, fam, b, s) != 0
  def asnChild(b: Int, q: Int): Boolean = hmod(4, 6, b, q) == 0
  private def asnOf(fam: Int, b: Int, k: Int, s: Int, salt: Int): Long =
    64512L + hmod(nAs, 7, fam, b, k, s, salt)
  def asnString(fam: Int, b: Int, k: Int, s: Int): String = {
    val a = asnOf(fam, b, k, s, 0)
    hmod(200, 8, fam, b, k, s) match {
      case 0 => s"${a}_${asnOf(fam, b, k, s, 1)}"
      case 1 => s"$a,${asnOf(fam, b, k, s, 1)}"
      case _ => a.toString
    }
  }
  def bestAsn(fam: Int, b: Int, k: Int, s: Int): Long = asnOf(fam, b, k, s, 0)

  def city(l: Int): String = s"C$l"
  def country(l: Int): String = Countries(l % Countries.length)
  /** AS names exist for most ASNs; the rest annotate with "". */
  def asName(asn: Long, version: Int): Option[String] =
    if (asn % 17 == 0) None else Some(s"Net$asn v$version")

  // ---------------------------------------------------------------
  // Expected annotation
  // ---------------------------------------------------------------

  /** Expected (city, asn) of a v4 address under snapshot `s`. */
  def expectV4(a: Long, s: Int): Expect = {
    val o1 = (a >>> 24).toInt; val o2 = ((a >>> 16) & 255).toInt
    val o3 = ((a >>> 8) & 255).toInt; val o4 = (a & 255).toInt
    val b = (o1 - 11) * 256 + o2
    if (o1 < 11 || b >= nV4) return Expect.Miss
    val l =
      if (!geoChild(b, o3)) loc(4, b, 0, s)
      else if (geoGrand(b, o3) && o4 >= 64 && o4 < 128) loc(4, b, 300 + o3, s)
      else loc(4, b, 1 + o3, s)
    val asn =
      if (!asnParent(4, b, s)) None
      else {
        val q = o3 / 16
        Some(if (asnChild(b, q)) bestAsn(4, b, 1 + q, s) else bestAsn(4, b, 0, s))
      }
    Expect(Some(l), asn)
  }

  /** Expected (city, asn) of `2600:b:h3::…` under snapshot `s`. */
  def expectV6(b: Int, h3: Int, s: Int): Expect = {
    if (b >= nV6) return Expect.Miss
    val t = h3 >>> 12
    val l = if (v6Child(b, t)) loc(6, b, 1 + t, s) else loc(6, b, 0, s)
    Expect(Some(l),
      if (asnParent(6, b, s)) Some(bestAsn(6, b, 0, s)) else None)
  }

  // ---------------------------------------------------------------
  // Probes
  // ---------------------------------------------------------------

  private lazy val zipfV4 = zipfCdf(nV4)
  private lazy val zipfV6 = zipfCdf(nV6)

  /** Probe `i` of stream `stream` against snapshot `s`: an IP string
    * plus its expected annotation. The mix is ~1.5% unparseable,
    * ~10% outside every range, and of the rest 70% v4, 20% v6, 10%
    * 6to4, with parents drawn Zipf-skewed.
    */
  def probe(stream: Long, i: Long, s: Int): Probe = {
    val u = h(9, stream, i)
    val kind = java.lang.Math.floorMod(u, 1000L)
    val r = mix(u)
    val r2 = mix(r)
    if (kind < 15) {
      val ip = (r2 & 0x7fffffff) % 3 match {
        case 0 => "bad-ip-" + (r & 0xffff)
        case 1 => s"${r & 255}.${(r >>> 8) & 255}.1"
        case _ => s"3${(r & 63) + 10}.1.2.3"
      }
      Probe(ip, Expect.Miss, parseable = false)
    } else if (kind < 115) {
      if ((r & 1) == 0)
        Probe(s"100.${64 + ((r >>> 1) & 63)}.${(r >>> 8) & 255}.${(r >>> 16) & 255}",
          Expect.Miss, parseable = true)
      else
        Probe(s"2a00:${hex((r >>> 1) & 0xffff)}::${hex((r >>> 20) & 0xffff)}",
          Expect.Miss, parseable = true)
    } else {
      val fam = java.lang.Math.floorMod(r, 10L)
      if (fam < 7 || fam == 9) {
        val b = pick(zipfV4, r2)
        val a = (((11L + b / 256) << 24) | ((b % 256).toLong << 16)) |
          ((mix(r2) >>> 7) & 0xffffL)
        val v4 = s"${a >>> 24}.${(a >>> 16) & 255}.${(a >>> 8) & 255}.${a & 255}"
        val ip = if (fam < 7) v4
          else s"2002:${hex((a >>> 16) & 0xffff)}:${hex(a & 0xffff)}::1"
        Probe(ip, expectV4(a, s), parseable = true)
      } else {
        val b = pick(zipfV6, r2)
        val h3 = ((mix(r2) >>> 5) & 0xffff).toInt
        val low = (mix(r2 + 1) >>> 9) & 0xffff
        Probe(s"2600:${hex(b)}:${hex(h3)}:1::${hex(low)}", expectV6(b, h3, s),
          parseable = true)
      }
    }
  }

  // ---------------------------------------------------------------
  // Source files (the formats sources.Ingest reads)
  // ---------------------------------------------------------------

  /** Rows per source file that the reader must reject (field errors,
    * inside the reader's per-file budget of 50).
    */
  val JunkRows = 7

  private def v4Net(b: Int, o3: Int, o4: Int, len: Int): String =
    s"${11 + b / 256}.${b % 256}.$o3.$o4/$len"

  /** GeoLite2 blocks CSV for snapshot `s` (v4 and v6 in one file). */
  def writeBlocks(f: File, s: Int): Int = write(f) { w =>
    var n = 0
    w.write("network,geoname_id,registered_country_geoname_id," +
      "represented_country_geoname_id,is_anonymous_proxy," +
      "is_satellite_provider,postal_code,latitude,longitude,accuracy_radius\n")
    def row(net: String, l: Int): Unit = {
      w.write(s"$net,${l + 1},${l + 1},,false,false,P$l," +
        s"${(l % 170) - 85}.25,${(l % 350) - 175}.5,50\n"); n += 1
    }
    for (b <- 0 until nV4) {
      row(v4Net(b, 0, 0, 16), loc(4, b, 0, s))
      for (t <- 0 until 256 if geoChild(b, t)) {
        row(v4Net(b, t, 0, 24), loc(4, b, 1 + t, s))
        if (geoGrand(b, t)) row(v4Net(b, t, 64, 26), loc(4, b, 300 + t, s))
      }
    }
    for (b <- 0 until nV6) {
      row(f"2600:$b%x::/32", loc(6, b, 0, s))
      for (t <- 0 until 16 if v6Child(b, t))
        row(f"2600:$b%x:${t << 12}%x::/36", loc(6, b, 1 + t, s))
    }
    for (j <- 0 until JunkRows) row(s"3${10 + j}.0.0.0/24", 0)
    n
  }

  /** GeoLite2 locations CSV: geoname_id l+1 ↦ city C<l>. */
  def writeLocations(f: File): Int = write(f) { w =>
    w.write("geoname_id,locale_code,continent_code,continent_name," +
      "country_iso_code,country_name,subdivision_1_iso_code," +
      "subdivision_1_name,subdivision_2_iso_code,subdivision_2_name," +
      "city_name,metro_code,time_zone,is_in_european_union\n")
    for (l <- 0 until nLoc)
      w.write(s"${l + 1},en,EU,Europe,${country(l)},Country ${country(l)}," +
        s"S${l % 50},Sub ${l % 50},,,${city(l)},${l % 900},UTC,false\n")
    // lower-case country codes fail the reader's validation regex
    for (j <- 0 until JunkRows)
      w.write(s"${nLoc + 100 + j},en,EU,Europe,xx,Nowhere,,,,,Junk,,UTC,false\n")
    nLoc + JunkRows
  }

  /** RouteViews pfx2as TSV for snapshot `s`. */
  def writePfx2as(f: File, s: Int): Int = write(f) { w =>
    var n = 0
    def row(p: String, len: Int, a: String): Unit = { w.write(s"$p\t$len\t$a\n"); n += 1 }
    for (b <- 0 until nV4 if asnParent(4, b, s)) {
      row(s"${11 + b / 256}.${b % 256}.0.0", 16, asnString(4, b, 0, s))
      for (q <- 0 until 16 if asnChild(b, q))
        row(s"${11 + b / 256}.${b % 256}.${q * 16}.0", 20, asnString(4, b, 1 + q, s))
    }
    for (b <- 0 until nV6 if asnParent(6, b, s))
      row(f"2600:$b%x::", 32, asnString(6, b, 0, s))
    for (j <- 0 until JunkRows) row(s"3${10 + j}.0.0.0", 16, "1")
    n
  }

  /** ipinfo-style AS names CSV stamped with directory version `v`. */
  def writeAsNames(f: File, v: Int): Int = write(f) { w =>
    var n = 0
    w.write("asn,name,country,registry\n")
    for (k <- 0 until nAs; a = 64512L + k; name <- asName(a, v)) {
      w.write(s"AS$a,$name,ZZ,ripe\n"); n += 1
    }
    for (j <- 0 until JunkRows) { w.write(s"X$j,Junk,ZZ,ripe\n"); n += 1 }
    n
  }

  private def write(f: File)(body: BufferedWriter => Int): Int = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f), 1 << 16)
    try body(w) finally w.close()
  }
}

object World {
  /** `bench` is what the benchmark measures; `reference` sizes the
    * tables from the reference deployment: about 200k geo ranges, the
    * 200,000 locations geo-ip.go:17 preallocates, and 87,207 named
    * ASNs (asnames.ipinfo.csv). At `reference` a request takes about
    * 4 s, too long for the benchmark's time budget; see README.md.
    */
  val Scales: Seq[String] = Seq("bench", "reference")

  def scaled(seed: Long, scale: String): World = scale match {
    case "bench" => World(seed)
    case "reference" => World(seed, nV4 = 4800, nV6 = 512, nLoc = 200000, nAs = 92658)
  }

  final case class Expect(loc: Option[Int], asn: Option[Long])
  object Expect { val Miss: Expect = Expect(None, None) }
  final case class Probe(ip: String, expect: Expect, parseable: Boolean)

  val Countries: Array[String] = Array("US", "DE", "FR", "GB", "JP", "BR",
    "IN", "CN", "NL", "SE", "IT", "ES", "CA", "AU", "KR", "ZA", "MX", "PL",
    "AR", "NG")

  /** Snapshot dates; snapshot i serves dates in [SnapshotDates(i),
    * SnapshotDates(i+1)), and dates before the first clamp to it.
    */
  val SnapshotDates: Seq[Date] =
    Seq("2024-01-01", "2024-02-01", "2024-03-01").map(Date.valueOf)

  /** As-of rule of the reference directory: latest snapshot ≤ d,
    * else the earliest.
    */
  def snapshotFor(d: Date): Int =
    math.max(0, SnapshotDates.lastIndexWhere(!_.after(d)))

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def hex(x: Long): String = java.lang.Long.toHexString(x)

  private def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / (i + 1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def pick(cdf: Array[Double], r: Long): Int = {
    val u = (r >>> 11).toDouble / (1L << 53).toDouble
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }
}
