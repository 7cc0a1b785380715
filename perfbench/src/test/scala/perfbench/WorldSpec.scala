package perfbench

import java.io.File
import java.net.InetAddress
import java.nio.file.Files
import java.security.MessageDigest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

class WorldSpec extends AnyFunSuite {

  private def tmpDir(): File = {
    val d = new File("target/world-spec/" + java.util.UUID.randomUUID())
    d.mkdirs()
    d
  }

  /** Digest of every input the benchmark derives from a seed: the
    * source files of three snapshots, fact probes, and API requests.
    */
  private def fingerprint(seed: Long): String = {
    val w = World(seed, nV4 = 20, nV6 = 4)
    val d = tmpDir()
    val md = MessageDigest.getInstance("SHA-256")
    for (s <- 0 until 3) {
      val files = Seq(new File(d, s"b$s"), new File(d, s"p$s"))
      w.writeBlocks(files(0), s)
      w.writePfx2as(files(1), s)
      files.foreach(f => md.update(Files.readAllBytes(f.toPath)))
    }
    w.writeLocations(new File(d, "l"))
    w.writeAsNames(new File(d, "n"), 1)
    Seq("l", "n").foreach(f => md.update(Files.readAllBytes(new File(d, f).toPath)))
    for (i <- 0 until 3000) md.update(w.probe(1L << 40, i, i % 3).toString.getBytes)
    for (k <- 0 until 40) md.update(Workloads.request(w, 100, k).toString.getBytes)
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed gives identical input fingerprints") {
    assert(fingerprint(5) == fingerprint(5))
    assert(fingerprint(5) != fingerprint(6))
  }

  // ----------------------------------------------------------------
  // An independent oracle: parse the written range files and take the
  // innermost range that contains the address, by linear scan.
  // ----------------------------------------------------------------

  private val V4 = """(\d+)\.(\d+)\.(\d+)\.(\d+)""".r

  /** (family, number) of an IP literal; None when it does not parse.
    * 2002::/16 addresses map to their embedded v4 address.
    */
  private def num(ip: String): Option[(Int, BigInt)] = ip match {
    case V4(a, b, c, e) =>
      val o = Seq(a, b, c, e).map(_.toInt)
      if (o.exists(_ > 255)) None
      else Some((4, o.foldLeft(BigInt(0))((n, x) => n * 256 + x)))
    case s if s.contains(":") && s.forall(ch => ch == ':' || Character.digit(ch, 16) >= 0) =>
      val bytes = InetAddress.getByName(s).getAddress
      val n = BigInt(1, bytes)
      if ((n >> 112) == 0x2002) Some((4, (n >> 80) & 0xffffffffL)) else Some((6, n))
    case _ => None
  }

  private final case class Range(fam: Int, lo: BigInt, hi: BigInt, value: String)

  private def range(prefix: String, len: Int, value: String): Option[Range] =
    num(prefix).map { case (fam, n) =>
      val bits = if (fam == 4) 32 else 128
      val size = BigInt(1) << (bits - len)
      Range(fam, n, n + size - 1, value)
    }

  private def innermost(rs: Seq[Range], ip: String): Option[String] =
    num(ip).flatMap { case (fam, n) =>
      val hits = rs.filter(r => r.fam == fam && r.lo <= n && n <= r.hi)
      if (hits.isEmpty) None else Some(hits.minBy(r => r.hi - r.lo).value)
    }

  private def lines(f: File): List[String] = {
    val s = Source.fromFile(f)
    try s.getLines().toList finally s.close()
  }

  private def blocks(f: File): Seq[Range] =
    lines(f).drop(1).flatMap { l =>
      val c = l.split(",", -1)
      val Array(p, len) = c(0).split("/")
      range(p, len.toInt, c(1))
    }

  private def pfx2as(f: File): Seq[Range] =
    lines(f).flatMap { l =>
      val c = l.split("\t")
      range(c(0), c(1).toInt, c(2))
    }

  test("the scan oracle matches a hand-checked range table") {
    val rs = Seq(
      range("11.0.0.0", 16, "parent"), range("11.0.5.0", 24, "child"),
      range("11.0.5.64", 26, "grandchild"), range("2600:1::", 32, "v6"),
      range("2600:1:3000::", 36, "v6child")).flatten
    assert(innermost(rs, "11.0.5.70").contains("grandchild"))
    assert(innermost(rs, "11.0.5.63").contains("child"))
    assert(innermost(rs, "11.0.5.128").contains("child"))
    assert(innermost(rs, "11.0.6.1").contains("parent"))
    assert(innermost(rs, "11.1.0.0").isEmpty)
    assert(innermost(rs, "2002:b00:546::1").contains("grandchild")) // 6to4 of 11.0.5.70
    assert(innermost(rs, "2600:1:3fff:1::5").contains("v6child"))
    assert(innermost(rs, "2600:1:4000:1::5").contains("v6"))
    assert(innermost(rs, "310.1.2.3").isEmpty)
    assert(innermost(rs, "bad-ip-7").isEmpty)
  }

  test("the arithmetic oracle agrees with the scan over the written tables") {
    val w = World(11, nV4 = 3, nV6 = 2)
    val d = tmpDir()
    for (s <- 0 until 3) {
      val bf = new File(d, s"blocks$s.csv")
      val pf = new File(d, s"pfx$s.tsv")
      w.writeBlocks(bf, s)
      w.writePfx2as(pf, s)
      val geo = blocks(bf)
      val asn = pfx2as(pf)
      // every generated probe kind, plus the range edges
      val edges = for {
        b <- 0 until 3; t <- Seq(0, 1, 5, 17, 255); o4 <- Seq(0, 63, 64, 127, 128, 255)
      } yield s"${11 + b / 256}.${b % 256}.$t.$o4"
      val probes = (0 until 4000).map(i => w.probe(3, i, s))
      for (ip <- edges ++ probes.map(_.ip)) {
        val want = World.Expect(
          innermost(geo, ip).map(_.toInt - 1),
          innermost(asn, ip).map(_.split("[_,]")(0).toLong))
        val got = probes.find(_.ip == ip).map(_.expect).getOrElse {
          val Some((_, n)) = num(ip)
          w.expectV4(n.toLong, s)
        }
        assert(got == want, s"$ip in snapshot $s")
      }
      assert(probes.count(!_.parseable) > 0 && probes.count(_.expect == World.Expect.Miss) > 0)
    }
  }
}
