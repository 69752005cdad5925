package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Byte-level golden digests of the kernel operations that run on the
  * shared noding + arrangement core (buffer, overlay, unary union,
  * makeValid, relate, validation, snap-rounded overlay and
  * point-on-surface).
  *
  * A seeded generator builds web-sized inputs: concave star polygons
  * and holed stars of 3-256 vertices, random-walk lines, points,
  * multipolygons whose parts touch at a vertex, and bowties. Each op's
  * outputs (WKB bytes, DE-9IM strings, validity reasons, or the thrown
  * exception's class) are folded into one SHA-256 per op. The pinned
  * digests were recorded on the implementation that predates the
  * primitive-array noder, so any change to an output byte — a ring's
  * start vertex, a coordinate's last bit, a part order — fails here.
  * The three buffer digests were re-recorded when every buffer style
  * moved onto the one offset-linework arrangement; CHANGES.md gives
  * the per-case evidence (every other case byte-identical, each
  * changed case valid and within its area bound). "buffer default"
  * was re-recorded again when the round walk began dropping its
  * covered linework (six cases changed bytes only: same region, same
  * ring and vertex counts). It also pins an 8-hex SHA-256 prefix per
  * case, so a changed digest names the cases that changed.
  */
class KernelGoldenSpec extends AnyFunSuite {

  /** Seeded input generator (java.util.Random: the same stream on
    * every JVM).
    */
  private final class Gen(seed: Long) {
    private val rnd = new java.util.Random(seed)
    def uniform(lo: Double, hi: Double): Double = lo + rnd.nextDouble() * (hi - lo)
    def int(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)
    def bool(): Boolean = rnd.nextBoolean()

    /** Vertex count 3-256, skewed towards small web polygons. */
    def vertexCount(): Int = rnd.nextInt(4) match {
      case 0 => int(3, 8)
      case 1 => int(9, 32)
      case 2 => int(33, 96)
      case _ => int(97, 256)
    }

    /** CCW star ring around (cx, cy): sorted random angles, radii in
      * [rIn, rOut]. Closed; the coordinates are full-precision doubles
      * or, half the time, snapped to a 1/64 grid.
      */
    def starRing(cx: Double, cy: Double, n: Int, rIn: Double, rOut: Double,
                 grid: Boolean): Seqn = {
      val angles = Array.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted
      val arr = new Array[Double]((n + 1) * 2)
      var i = 0
      while (i < n) {
        val r = uniform(rIn, rOut)
        var x = cx + r * math.cos(angles(i)); var y = cy + r * math.sin(angles(i))
        if (grid) { x = math.rint(x * 64) / 64; y = math.rint(y * 64) / 64 }
        arr(2 * i) = x; arr(2 * i + 1) = y
        i += 1
      }
      arr(2 * n) = arr(0); arr(2 * n + 1) = arr(1)
      Seqn.xy(arr)
    }

    def reversed(r: Seqn): Seqn = {
      val n = r.n
      val arr = new Array[Double](n * 2)
      var i = 0
      while (i < n) { arr(2 * i) = r.x(n - 1 - i); arr(2 * i + 1) = r.y(n - 1 - i); i += 1 }
      Seqn.xy(arr)
    }

    def center(): (Double, Double) = (uniform(-50, 50), uniform(-50, 50))

    def star(): Geom = {
      val (cx, cy) = center()
      val r = uniform(2, 20)
      GPoly(Array(starRing(cx, cy, vertexCount(), r * 0.3, r, bool())), CT.XY)
    }

    def holedStar(): Geom = {
      val (cx, cy) = center()
      val r = uniform(4, 20)
      val shell = starRing(cx, cy, vertexCount(), r * 0.6, r, bool())
      val hole = reversed(starRing(cx, cy, int(3, 24), r * 0.1, r * 0.45, bool()))
      GPoly(Array(shell, hole), CT.XY)
    }

    def areal(): Geom = if (rnd.nextInt(3) == 0) holedStar() else star()

    def line(): Geom = {
      val n = int(2, 64)
      var (x, y) = center()
      val arr = new Array[Double](n * 2)
      var i = 0
      while (i < n) {
        arr(2 * i) = x; arr(2 * i + 1) = y
        x += uniform(-6, 6); y += uniform(-6, 6)
        i += 1
      }
      GLine(Seqn.xy(arr))
    }

    def point(): Geom = { val (x, y) = center(); GPoint.xy(x, y) }

    /** Two squares meeting at one corner plus a detached star. */
    def touchingMultiPolygon(): Geom = {
      val (x, y) = center()
      val s = uniform(1, 10)
      def sq(x0: Double, y0: Double): Array[Seqn] =
        Array(Seqn.of(x0, y0, x0 + s, y0, x0 + s, y0 + s, x0, y0 + s, x0, y0))
      val far = starRing(x - 3 * s, y - 3 * s, vertexCount(), s * 0.3, s, bool())
      GMPoly(Array(sq(x, y), sq(x + s, y + s), Array(far)), CT.XY)
    }

    /** Self-crossing quadrilateral, optionally with extra wiggle. */
    def bowtie(): Geom = {
      val (x, y) = center()
      val w = uniform(1, 20); val h = uniform(1, 20)
      val mid = if (bool()) Seq(x + w / 2, y + h * 1.5) else Seq.empty
      val coords = Seq(x, y, x + w, y + h) ++ mid ++ Seq(x + w, y, x, y + h, x, y)
      GPoly(Array(Seqn.of(coords: _*)), CT.XY)
    }

    def any(): Geom = rnd.nextInt(6) match {
      case 0 | 1 => areal()
      case 2 => line()
      case 3 => point()
      case 4 => touchingMultiPolygon()
      case _ => bowtie()
    }

    /** A second operand near `a`, so most pairs interact. */
    def partner(a: Geom): Geom = {
      val e = a.envelope
      val b = if (rnd.nextInt(4) == 0) line() else areal()
      val be = b.envelope
      val dx = e.centerX - be.centerX + uniform(-0.5, 0.5) * e.width
      val dy = e.centerY - be.centerY + uniform(-0.5, 0.5) * e.height
      Geom.transformSeq(b, s => {
        val arr = s.floats.clone()
        var i = 0
        while (i < s.n) { arr(2 * i) += dx; arr(2 * i + 1) += dy; i += 1 }
        Seqn.xy(arr)
      })
    }
  }

  private final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private var k = 0
    /** The 8-hex SHA-256 prefix of each case's bytes, in case order. */
    val cases = IndexedSeq.newBuilder[String]
    private def add(bytes: Array[Byte]): Unit = {
      md.update(s"#$k:".getBytes(UTF_8)); k += 1
      md.update(bytes)
      cases += MessageDigest.getInstance("SHA-256").digest(bytes).take(4)
        .map(b => f"${b & 0xff}%02x").mkString
    }
    def geom(f: => Geom): Unit =
      add(try Wkb.write(f) catch { case e: Exception => s"ERR:${e.getClass.getName}".getBytes(UTF_8) })
    def text(f: => String): Unit =
      add((try f catch { case e: Exception => s"ERR:${e.getClass.getName}" }).getBytes(UTF_8))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private val Cases = 60

  private def singles(seed: Long): IndexedSeq[Geom] = {
    val gen = new Gen(seed)
    IndexedSeq.fill(Cases)(gen.any())
  }

  private def pairs(seed: Long): IndexedSeq[(Geom, Geom)] = {
    val gen = new Gen(seed)
    IndexedSeq.fill(Cases) { val a = gen.areal(); (a, gen.partner(a)) }
  }

  private def arealsAndLines(seed: Long): IndexedSeq[Geom] = {
    val gen = new Gen(seed)
    IndexedSeq.fill(Cases)(if (gen.int(0, 3) == 0) gen.line() else gen.areal())
  }

  private def radius(g: Geom): Double = {
    val e = g.envelope
    math.max(e.width, e.height) * 0.08 + 0.05
  }

  private val digests: Seq[(String, () => Digest)] = Seq(
    "buffer default" -> { () =>
      val d = new Digest
      arealsAndLines(11).foreach(g => d.geom(BufferOp.buffer(g, radius(g))))
      d
    },
    "buffer endcap=flat join=mitre" -> { () =>
      val d = new Digest
      val (st, _) = BufferOp.parseStyle("endcap=flat join=mitre")
      arealsAndLines(12).foreach(g => d.geom(BufferOp.buffer(g, radius(g), st)))
      d
    },
    "buffer negative distance" -> { () =>
      val d = new Digest
      val gen = new Gen(13)
      IndexedSeq.fill(Cases)(gen.areal()).foreach(g => d.geom(BufferOp.buffer(g, -radius(g) / 2)))
      d
    },
    "intersection" -> { () =>
      val d = new Digest
      pairs(21).foreach { case (a, b) => d.geom(SetOps.intersection(a, b)) }
      d
    },
    "union" -> { () =>
      val d = new Digest
      pairs(22).foreach { case (a, b) => d.geom(SetOps.union(a, b)) }
      d
    },
    "difference" -> { () =>
      val d = new Digest
      pairs(23).foreach { case (a, b) => d.geom(SetOps.difference(a, b)) }
      d
    },
    "symDifference" -> { () =>
      val d = new Digest
      pairs(24).foreach { case (a, b) => d.geom(SetOps.symDifference(a, b)) }
      d
    },
    "unaryUnion" -> { () =>
      val d = new Digest
      val gen = new Gen(31)
      (0 until Cases).foreach { _ =>
        val a = gen.areal()
        val parts = Array(a, gen.partner(a), gen.touchingMultiPolygon())
        d.geom(SetOps.unaryUnion(GColl(parts, CT.XY)))
      }
      d
    },
    "makeValid of bowties" -> { () =>
      val d = new Digest
      val gen = new Gen(32)
      IndexedSeq.fill(Cases)(gen.bowtie()).foreach(g => d.geom(SetOps.makeValid(g)))
      d
    },
    "relate" -> { () =>
      val d = new Digest
      val gen = new Gen(41)
      (0 until Cases).foreach { _ =>
        val a = gen.any()
        val b = if (gen.bool()) gen.partner(a) else gen.any()
        d.text(Relate.relate(a, b))
      }
      d
    },
    "Validate.reason" -> { () =>
      val d = new Digest
      singles(42).foreach(g => d.text(Validate.reason(g).getOrElse("valid")))
      d
    },
    "SnapRound" -> { () =>
      val d = new Digest
      pairs(51).zipWithIndex.foreach { case ((a, b), i) =>
        d.geom(SnapRound.overlay(a, b, i % 4, 2))
      }
      d
    },
    "PointOnSurface" -> { () =>
      val d = new Digest
      singles(61).foreach(g => d.geom(PointOnSurface.compute(g)))
      d
    }
  )

  private val expected: Map[String, String] = Map(
    "buffer default" ->
      "df7ed7adc43d6127cd7c271840f82203b24f70b7538b78a744d6fed9f34e3f5f",
    "buffer endcap=flat join=mitre" ->
      "d0d930e9bc0f1b0b8abcecc7312424aa3e5bc57033612c21a067008131ea3ee7",
    "buffer negative distance" ->
      "bd517416e65f4dc9d03b7fc3f1b5a01529841798c3edd4a50c945f230cfe8c50",
    "intersection" ->
      "38fa69a139259cfcd11ab078c1e6b8b64e573646a12d1350613ea4456f9cd570",
    "union" ->
      "99f6a14751d1e45ea8486f178260feaf70fd805a6c916b5d49db0ae4af9d2a1d",
    "difference" ->
      "92e17d9999577f0980cdd4c0be80f79a18fd32716efa2b267532e5154ec039d7",
    "symDifference" ->
      "dcb60223f00f65443d2526c36e9df6908ce4e01329e2b8cde630e89301152891",
    "unaryUnion" ->
      "21004b9b5d1335d233bac678c5b945ddd1f1abdc3a11eca839156ff072d2d5e0",
    "makeValid of bowties" ->
      "f2e479e38222a0ddde16545b472274a6a772e519fbc2592b51aa589cfb7d12de",
    "relate" ->
      "b0b5cc053210fa193bc9fff7ee65b0bb39052928328c57266b0aa32df1c9274a",
    "Validate.reason" ->
      "847c429e4fe3b7504dd4c5f11f01bdd43640badc14095dfbf4d1c88ea98775af",
    "SnapRound" ->
      "16f98670d626eddbac08949aecb85c6d61f81c184bdb496ced416ddb7875f73b",
    "PointOnSurface" ->
      "fc51bf4653f70fec7801ef36bb3b58ef43c775662aa1eaea314ca804cea1b6d9"
  )

  test("buffer default: crossing rings keep the piece walk's area") {
    // holed stars whose hole crosses the shell: one-sided offsets of
    // crossing rings do not bound the buffer, so dropping the round
    // walk's covered linework loses area on these three; the guard
    // sends them to the piece walk
    for ((seed, i) <- Seq((100L, 34), (101L, 36), (105L, 46))) {
      val g = arealsAndLines(seed)(i)
      val d = radius(g)
      assert(Validate.reason(g).contains("polygon rings must not intersect at more than one point"),
        s"$seed #$i")
      val piece = Measure.area(
        BufferOp.arrangementBuffer(g, d, BufferOp.Style(), grow = true, side = 0, pieceWalk = true))
      val area = Measure.area(BufferOp.buffer(g, d))
      assert(math.abs(area - piece) <= 1e-9 * piece, s"$seed #$i: area $area, piece walk $piece")
    }
  }

  /** Per-case 8-hex prefixes, so a changed digest names its cases. */
  private val expectedCases: Map[String, String] = Map(
    "buffer default" -> """
      438fc8f2 e98ae7e2 cda62592 e6455956 dec850bd 48bd94f1 af6d128a 766192d6 a87a2863 e9d1d80e
      e2fcd7b4 632e0ca8 6a1ccce4 07fb83f2 4f999fe9 7f9738c3 71ffa208 1d5511b4 6132e242 232c856b
      fd2ffcbf 5a643cbe 61cc58e1 9d4649cc 80bccddb caaf8c6f 3d63d9d9 8e0d3f30 db7bdc1f a1469b58
      a62c821e 996f7473 9060404d b7f10483 794b9cf6 a36515c1 bcb5011f e4e4c2a7 3ad6e3f9 5a05f46b
      22a89879 9e5015c6 9a2a1396 b89b8a29 17eba996 73cdfad6 e77ba7b8 5a14c3f4 7f2462b8 cb901989
      b5fc0223 3af32501 ced5b0c5 31321b27 88832315 e29f8c4d 3c130a2d 1ef67539 3f0d4cd3 27429172
    """
  )

  for ((op, run) <- digests) {
    test(s"golden digest: $op") {
      val d = run()
      expectedCases.get(op).foreach { pinned =>
        val want = pinned.trim.split("\\s+").toIndexedSeq
        val got = d.cases.result()
        val changed = got.indices.filter(i => i >= want.length || got(i) != want(i))
        assert(changed.isEmpty, s"$op changed in cases " +
          changed.map(i => s"#$i (${want.lift(i).getOrElse("-")} -> ${got(i)})").mkString(", "))
      }
      assert(d.hex == expected(op), s"digest of $op changed")
    }
  }
}
