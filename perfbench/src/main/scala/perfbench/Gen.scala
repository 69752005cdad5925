package perfbench

import java.util.SplittableRandom

/** Seeded generators of web-shaped geometry as WKT text.
  *
  * Polygons are star-shaped around their centre: vertex angles increase
  * strictly and radii alternate between an outer band and an inner band,
  * so every shell is simple and concave. A hole is a small ring around
  * the centre, well inside the shell's inner band, so a holed polygon is
  * valid by construction. Nothing here calls the program: the generated
  * text is all the program receives.
  */
object Gen {

  /** Vertex-count buckets used by every per-bucket metric. */
  val Buckets: Seq[String] = Seq("s", "m", "l")

  def bucketOf(vertices: Int): String =
    if (vertices <= 16) "s" else if (vertices <= 64) "m" else "l"

  def fmt(d: Double): String = java.lang.Double.toString(d)

  private def ring(sb: StringBuilder, xs: Array[Double], ys: Array[Double]): Unit = {
    sb.append('(')
    var i = 0
    while (i < xs.length) {
      sb.append(fmt(xs(i))).append(' ').append(fmt(ys(i))).append(',')
      i += 1
    }
    sb.append(fmt(xs(0))).append(' ').append(fmt(ys(0))).append(')')
  }

  /** Star-shaped concave shell of `n` vertices (n >= 3). The angular step
    * jitter stays under a quarter step, so consecutive vertices are less
    * than a right angle apart once n >= 6 and the shell encloses a disc
    * of radius 0.24 * r around the centre.
    */
  def shell(rnd: SplittableRandom, cx: Double, cy: Double, r: Double, n: Int)
      : (Array[Double], Array[Double]) = {
    val step = 2 * math.Pi / n
    val phase = rnd.nextDouble() * step
    val xs = new Array[Double](n); val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      val a = phase + i * step + (rnd.nextDouble() - 0.5) * 0.5 * step
      val rr = if (n < 6 || i % 2 == 0) r * (0.8 + 0.2 * rnd.nextDouble())
               else r * (0.35 + 0.25 * rnd.nextDouble())
      xs(i) = cx + rr * math.cos(a); ys(i) = cy + rr * math.sin(a)
      i += 1
    }
    (xs, ys)
  }

  /** A regular-ish hole of `n` vertices and radius 0.12 * r. */
  def hole(rnd: SplittableRandom, cx: Double, cy: Double, r: Double, n: Int)
      : (Array[Double], Array[Double]) = {
    val step = 2 * math.Pi / n
    val phase = rnd.nextDouble() * step
    val xs = new Array[Double](n); val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      val a = phase + i * step
      val rr = r * (0.1 + 0.02 * rnd.nextDouble())
      xs(i) = cx + rr * math.cos(a); ys(i) = cy + rr * math.sin(a)
      i += 1
    }
    (xs, ys)
  }

  /** A polygon of exactly `vertices` distinct vertices; a holed one
    * spends 4 to 8 of them on the hole (needs vertices >= 10).
    */
  def polygon(rnd: SplittableRandom, cx: Double, cy: Double, r: Double,
              vertices: Int, holed: Boolean): String = {
    val sb = new StringBuilder("POLYGON(")
    if (holed) {
      val nh = 4 + rnd.nextInt(5)
      val (sx, sy) = shell(rnd, cx, cy, r, vertices - nh)
      ring(sb, sx, sy)
      sb.append(',')
      val (hx, hy) = hole(rnd, cx, cy, r, nh)
      ring(sb, hx, hy)
    } else {
      val (sx, sy) = shell(rnd, cx, cy, r, vertices)
      ring(sb, sx, sy)
    }
    sb.append(')').toString
  }

  def line(rnd: SplittableRandom, cx: Double, cy: Double, r: Double, vertices: Int): String = {
    val pts = (0 until vertices).map { _ =>
      fmt(cx + r * (2 * rnd.nextDouble() - 1)) + " " + fmt(cy + r * (2 * rnd.nextDouble() - 1))
    }
    pts.mkString("LINESTRING(", ",", ")")
  }

  def point(cx: Double, cy: Double): String = s"POINT(${fmt(cx)} ${fmt(cy)})"

  /** Hostile rows, one kind per index: a bowtie (parses, invalid), an
    * unclosed ring, an empty geometry, and unparsable text.
    */
  val HostileKinds: Seq[String] = Seq("bowtie", "unclosed", "empty", "unparsable")

  def hostile(rnd: SplittableRandom, kind: String, cx: Double, cy: Double, r: Double): String =
    kind match {
      case "bowtie" =>
        s"POLYGON((${fmt(cx - r)} ${fmt(cy - r)},${fmt(cx + r)} ${fmt(cy + r)}," +
          s"${fmt(cx + r)} ${fmt(cy - r)},${fmt(cx - r)} ${fmt(cy + r)},${fmt(cx - r)} ${fmt(cy - r)}))"
      case "unclosed" =>
        s"POLYGON((${fmt(cx - r)} ${fmt(cy - r)},${fmt(cx + r)} ${fmt(cy - r)}," +
          s"${fmt(cx + r)} ${fmt(cy + r)},${fmt(cx - r)} ${fmt(cy + r)}))"
      case "empty" =>
        Seq("POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY")(rnd.nextInt(3))
      case _ =>
        Seq(s"POLYGON((${fmt(cx)} ${fmt(cy)},${fmt(cx + r)}", s"POINT(${fmt(cx)} north)",
          "LINESTRING()", "CIRCLE(1 2, 3)")(rnd.nextInt(4))
    }
}
