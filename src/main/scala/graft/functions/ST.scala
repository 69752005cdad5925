package graft.functions

import org.apache.spark.sql.{Column, SparkSession, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{lit, udaf}

import graft.core._

/** Column-level ST function surface (PostGIS-style names, SURVEY.md §2).
  * Geometry columns are BinaryType WKB.
  */
object ST {

  private def col(e: Expression): Column = GraftBridge.column(e)
  private def ex(c: Column): Expression = GraftBridge.expression(c)

  // ------------------------------------------------------------ codecs
  def st_geomFromWKT(c: Column): Column = col(StGeomFromWKT(ex(c), strict = true))
  def st_tryGeomFromWKT(c: Column): Column = col(StGeomFromWKT(ex(c), strict = false))
  def st_geomFromWKB(c: Column): Column = col(StGeomFromWKB(ex(c), strict = true))
  def st_tryGeomFromWKB(c: Column): Column = col(StGeomFromWKB(ex(c), strict = false))
  def st_geomFromGeoJSON(c: Column): Column = col(StGeomFromGeoJson(ex(c), strict = true))
  def st_featureGeometry(c: Column): Column = col(JsonFeatureOp("st_featuregeometry", ex(c)))
  def st_featureId(c: Column): Column = col(JsonFeatureOp("st_featureid", ex(c)))
  def st_featureProperties(c: Column): Column = col(JsonFeatureOp("st_featureproperties", ex(c)))
  def st_features(c: Column): Column = col(JsonFeatureOp("st_features", ex(c)))
  def st_asGeoJSONFeature(g: Column, props: Column, id: Column): Column =
    col(StAsGeoJsonFeature(Seq(ex(g), ex(props), ex(id))))
  def st_asText(c: Column): Column = col(GeomUnaryOp("st_astext", ex(c)))
  def st_asGeoJSON(c: Column): Column = col(GeomUnaryOp("st_asgeojson", ex(c)))
  /** Geometry columns ARE WKB — provided for API parity. */
  def st_asBinary(c: Column): Column = c
  def st_asTWKB(c: Column, prec: Column): Column = col(StAsTwkb(ex(c), ex(prec)))
  def st_asTWKBOpts(c: Column, prec: Column, withSize: Column, withBBox: Column,
                    ids: Column = null): Column =
    col(StAsTwkbFull(Seq(ex(c), ex(prec), ex(withSize), ex(withBBox)) ++
      Option(ids).map(ex)))
  def st_geomFromTWKB(c: Column): Column = col(StGeomFromTwkb(ex(c)))
  def st_twkbEnvelope(c: Column): Column = col(StTwkbEnvelope(ex(c)))
  def st_twkbIdList(c: Column): Column = col(StTwkbIdList(ex(c)))
  def st_twkbSize(c: Column): Column = col(StTwkbSize(ex(c)))

  // ------------------------------------------------------ constructors
  def st_point(x: Column, y: Column): Column = col(StPoint(ex(x), ex(y)))
  def st_makePoint(ords: Column*): Column =
    col(StMakePoint("st_makepoint", ords.map(ex)))
  def st_makePointM(x: Column, y: Column, m: Column): Column =
    col(StMakePoint("st_makepointm", Seq(ex(x), ex(y), ex(m))))
  def st_makeLine(coords: Column, ct: Column = lit("XY")): Column =
    col(StMakeGeom("st_makeline", Seq(ex(coords), ex(ct))))
  def st_makeMultiPoint(coords: Column, ct: Column = lit("XY")): Column =
    col(StMakeGeom("st_makemultipoint", Seq(ex(coords), ex(ct))))
  def st_makePolygon(rings: Column, ct: Column = lit("XY")): Column =
    col(StMakeGeom("st_makepolygon", Seq(ex(rings), ex(ct))))
  def st_makeMultiLine(lines: Column, ct: Column = lit("XY")): Column =
    col(StMakeGeom("st_makemultiline", Seq(ex(lines), ex(ct))))
  def st_makeMultiPolygon(polys: Column, ct: Column = lit("XY")): Column =
    col(StMakeGeom("st_makemultipolygon", Seq(ex(polys), ex(ct))))
  def st_makeEnvelope(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    col(StMakeEnvelope(Seq(ex(xmin), ex(ymin), ex(xmax), ex(ymax))))

  // --------------------------------------------------------- accessors
  private def u(op: String)(c: Column): Column = col(GeomUnaryOp(op, ex(c)))
  def st_area(c: Column): Column = u("st_area")(c)
  def st_signedArea(c: Column): Column = u("st_signedarea")(c)
  def st_isRing(c: Column): Column = u("st_isring")(c)
  def st_boundingDiagonal(c: Column): Column = u("st_boundingdiagonal")(c)
  def st_length(c: Column): Column = u("st_length")(c)
  def st_dimension(c: Column): Column = u("st_dimension")(c)
  def st_coordDim(c: Column): Column = u("st_coorddim")(c)
  def st_numGeometries(c: Column): Column = u("st_numgeometries")(c)
  def st_numTotalGeometries(c: Column): Column = u("st_numtotalgeometries")(c)
  def st_isRectangle(c: Column): Column = u("st_isrectangle")(c)
  def st_dumpRings(c: Column): Column = u("st_dumprings")(c)
  def st_numPoints(c: Column): Column = u("st_numpoints")(c)
  def st_isEmpty(c: Column): Column = u("st_isempty")(c)
  def st_isValid(c: Column): Column = u("st_isvalid")(c)
  def st_isValidReason(c: Column): Column = u("st_isvalidreason")(c)
  def st_geometryType(c: Column): Column = u("st_geometrytype")(c)
  def st_x(c: Column): Column = u("st_x")(c)
  def st_y(c: Column): Column = u("st_y")(c)
  def st_xmin(c: Column): Column = u("st_xmin")(c)
  def st_ymin(c: Column): Column = u("st_ymin")(c)
  def st_xmax(c: Column): Column = u("st_xmax")(c)
  def st_ymax(c: Column): Column = u("st_ymax")(c)
  /** [xmin, ymin, xmax, ymax] from one decode; null for an empty geometry. */
  def st_envBounds(c: Column): Column = u("st_envbounds")(c)
  def st_envelope(c: Column): Column = u("st_envelope")(c)
  def st_envWidth(c: Column): Column = u("st_envwidth")(c)
  def st_envHeight(c: Column): Column = u("st_envheight")(c)
  def st_envArea(c: Column): Column = u("st_envarea")(c)
  def st_envCenter(c: Column): Column = u("st_envcenter")(c)
  def st_envDistance(l: Column, r: Column): Column =
    col(GeomBinaryOp("st_envdistance", ex(l), ex(r)))
  def st_boundary(c: Column): Column = u("st_boundary")(c)
  def st_makeValid(c: Column): Column = u("st_makevalid")(c)
  def st_centroid(c: Column): Column = u("st_centroid")(c)
  def st_convexHull(c: Column): Column = u("st_convexhull")(c)
  def st_pointOnSurface(c: Column): Column = u("st_pointonsurface")(c)
  def st_reverse(c: Column): Column = u("st_reverse")(c)
  def st_force2D(c: Column): Column = u("st_force2d")(c)
  def st_force3DZ(c: Column): Column = u("st_force3dz")(c)
  def st_force3DM(c: Column): Column = u("st_force3dm")(c)
  def st_force4D(c: Column): Column = u("st_force4d")(c)
  def st_flipCoordinates(c: Column): Column = u("st_flipcoordinates")(c)
  def st_forcePolygonCW(c: Column): Column = u("st_forcepolygoncw")(c)
  def st_forcePolygonCCW(c: Column): Column = u("st_forcepolygonccw")(c)
  def st_isPolygonCW(c: Column): Column = u("st_ispolygoncw")(c)
  def st_isPolygonCCW(c: Column): Column = u("st_ispolygonccw")(c)
  def st_startPoint(c: Column): Column = u("st_startpoint")(c)
  def st_endPoint(c: Column): Column = u("st_endpoint")(c)
  def st_isClosed(c: Column): Column = u("st_isclosed")(c)
  def st_dumpArray(c: Column): Column = u("st_dumparray")(c)
  def st_numInteriorRings(c: Column): Column = u("st_numinteriorrings")(c)
  def st_exteriorRing(c: Column): Column = u("st_exteriorring")(c)
  def st_isSimple(c: Column): Column = u("st_issimple")(c)
  def st_minimumAreaBoundingRectangle(c: Column): Column =
    u("st_minimumareaboundingrectangle")(c)
  def st_minimumWidthBoundingRectangle(c: Column): Column =
    u("st_minimumwidthboundingrectangle")(c)
  def st_summary(c: Column): Column = u("st_summary")(c)

  // ------------------------------------------------------- predicates
  private def b(op: String)(l: Column, r: Column): Column = col(GeomBinaryOp(op, ex(l), ex(r)))
  def st_intersects(l: Column, r: Column): Column = b("st_intersects")(l, r)
  def st_disjoint(l: Column, r: Column): Column = b("st_disjoint")(l, r)
  def st_contains(l: Column, r: Column): Column = b("st_contains")(l, r)
  def st_within(l: Column, r: Column): Column = b("st_within")(l, r)
  def st_covers(l: Column, r: Column): Column = b("st_covers")(l, r)
  def st_containsProperly(l: Column, r: Column): Column = b("st_containsproperly")(l, r)
  def st_coveredBy(l: Column, r: Column): Column = b("st_coveredby")(l, r)
  def st_crosses(l: Column, r: Column): Column = b("st_crosses")(l, r)
  def st_overlaps(l: Column, r: Column): Column = b("st_overlaps")(l, r)
  def st_touches(l: Column, r: Column): Column = b("st_touches")(l, r)
  def st_equals(l: Column, r: Column): Column = b("st_equals")(l, r)
  def st_relate(l: Column, r: Column): Column = b("st_relate")(l, r)
  def st_relateMatch(m: Column, p: Column): Column = col(StRelateMatch(ex(m), ex(p)))
  def st_distance(l: Column, r: Column): Column = b("st_distance")(l, r)
  def st_intersection(l: Column, r: Column): Column = b("st_intersection")(l, r)
  def st_union(l: Column, r: Column): Column = b("st_union")(l, r)
  def st_difference(l: Column, r: Column): Column = b("st_difference")(l, r)
  def st_symDifference(l: Column, r: Column): Column = b("st_symdifference")(l, r)
  def st_exactEquals(l: Column, r: Column, tol: Column, ignoreOrder: Column): Column =
    col(StExactEquals(Seq(ex(l), ex(r), ex(tol), ex(ignoreOrder))))
  def st_exactEquals(l: Column, r: Column, tol: Column): Column =
    col(StExactEquals(Seq(ex(l), ex(r), ex(tol))))

  // ---------------------------------------------------- transformations
  def st_simplify(c: Column, tol: Column): Column =
    col(GeomParamOp("st_simplify", ex(c), ex(tol)))
  def st_simplifyPreserveTopology(c: Column, tol: Column): Column =
    col(GeomParamOp("st_simplifypreservetopology", ex(c), ex(tol)))
  def st_buffer(c: Column, d: Column): Column =
    col(GeomParamOp("st_buffer", ex(c), ex(d)))
  def st_buffer(c: Column, d: Column, params: Column): Column =
    col(StBufferStyled(ex(c), ex(d), ex(params)))
  def st_densify(c: Column, d: Column): Column =
    col(GeomParamOp("st_densify", ex(c), ex(d)))
  def st_snapToGrid(c: Column, dp: Column): Column =
    col(GeomParamOp("st_snaptogrid", ex(c), ex(dp)))
  def st_geometryN(c: Column, n: Column): Column =
    col(GeomParamOp("st_geometryn", ex(c), ex(n)))
  def st_pointN(c: Column, n: Column): Column =
    col(GeomParamOp("st_pointn", ex(c), ex(n)))
  def st_interiorRingN(c: Column, n: Column): Column =
    col(GeomParamOp("st_interiorringn", ex(c), ex(n)))
  def st_lineInterpolatePoint(c: Column, f: Column): Column =
    col(GeomParamOp("st_lineinterpolatepoint", ex(c), ex(f)))
  def st_interpolatedPoints(c: Column, n: Column): Column =
    col(GeomParamOp("st_interpolatedpoints", ex(c), ex(n)))
  def st_affine(g: Column, a: Column, b: Column, d: Column, e: Column,
                xoff: Column, yoff: Column): Column =
    col(StAffine(Seq(ex(g), ex(a), ex(b), ex(d), ex(e), ex(xoff), ex(yoff))))
  def st_clipByBox(g: Column, xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    col(StClipByBox(Seq(ex(g), ex(xmin), ex(ymin), ex(xmax), ex(ymax))))
  def st_subdivide(g: Column, maxVerts: Column): Column =
    col(StSubdivide(Seq(ex(g), ex(maxVerts))))
  def st_concaveHull(g: Column, ratio: Column, allowHoles: Column): Column =
    col(StConcaveHull(Seq(ex(g), ex(ratio), ex(allowHoles))))
  def st_project(g: Column, spec: Column): Column = col(StProject(ex(g), ex(spec)))

  // ------------------------------------------------------------ tiling
  def st_cellOf(lon: Column, lat: Column, level: Column): Column =
    col(StCellOf(Seq(ex(lon), ex(lat), ex(level))))
  def st_cellCover(g: Column, level: Column): Column = col(StCellCover(ex(g), ex(level)))
  def st_cellRing(cell: Column, k: Column): Column = col(StCellRing(ex(cell), ex(k)))
  def st_cellGeom(cell: Column): Column = col(StCellGeom(ex(cell)))
  def st_cellOf(lon: Column, lat: Column, level: Int): Column = st_cellOf(lon, lat, lit(level))
  def st_cellOfEquirect(lon: Column, lat: Column, level: Column): Column =
    col(StCellOfEquirect(Seq(ex(lon), ex(lat), ex(level))))
  def st_cellIx(cell: Column): Column = col(StCellIx(ex(cell)))
  def st_cellIy(cell: Column): Column = col(StCellIy(ex(cell)))

  // ----------------------------------------------- vectors / simhash
  def vec_cosine(a: Column, b: Column): Column = col(VecCosine(ex(a), ex(b)))
  def vec_argmax_cosine(v: Column, centroids: Array[Array[Double]]): Column =
    col(VecArgmaxCosine(ex(v), centroids))
  def vec_bandKeys(v: Column, planes: Int, bands: Int,
                   seed: Long = 42L, probeBits: Int = 0): Column =
    col(VecBandKeys(ex(v), planes, bands, seed, probeBits))
  def simhash60(text: Column): Column = col(StSimhash60(ex(text)))
  def minhash_bandKeys(text: Column, shingleN: Int, k: Int, bands: Int,
                       seed: Long = 42L): Column =
    col(TextMinhashBandKeys(ex(text), shingleN, k, bands, seed))

  // ------------------------------------------------------- aggregators

  /** Envelope union fold (reference: geom/type_envelope.go:156-167
    * ExpandToIncludeEnvelope as a partial+final-capable Aggregator).
    * Buffer = packed (xmin,ymin,xmax,ymax) LE doubles; empty buffer =
    * empty envelope; output = envelope polygon WKB.
    */
  object EnvelopeAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    private def unpack(b: Array[Byte]): Env =
      if (b.isEmpty) Env.empty
      else {
        val buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Env(buf.getDouble, buf.getDouble, buf.getDouble, buf.getDouble)
      }
    private def pack(e: Env): Array[Byte] =
      if (e.isEmpty) Array.emptyByteArray
      else {
        val buf = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.putDouble(e.xmin).putDouble(e.ymin).putDouble(e.xmax).putDouble(e.ymax)
        buf.array()
      }
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(buf: Array[Byte], wkb: Array[Byte]): Array[Byte] =
      if (wkb == null) buf else pack(unpack(buf).merge(Wkb.read(wkb).envelope))
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = pack(unpack(a).merge(unpack(b)))
    def finish(buf: Array[Byte]): Array[Byte] = Wkb.write(unpack(buf).toGeom)
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Convex hull union fold — hull-of-hulls is associative
    * (reference: geom/alg_convex_hull.go). Buffer = WKB MULTIPOINT of
    * the running hull's vertices (bounded size).
    */
  object ConvexHullAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    private def pts(b: Array[Byte]): Vector[(Double, Double)] =
      if (b.isEmpty) Vector.empty else Algos.collectXYs(Wkb.read(b))
    private def hullWkb(ps: Seq[(Double, Double)]): Array[Byte] = {
      if (ps.isEmpty) return Array.emptyByteArray
      val hull = Algos.hullOf(ps)
      Wkb.write(GMPoint(hull.map(p => GPoint.xy(p._1, p._2)), CT.XY))
    }
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(buf: Array[Byte], wkb: Array[Byte]): Array[Byte] =
      if (wkb == null) buf
      else hullWkb(pts(buf) ++ Algos.collectXYs(Wkb.read(wkb)))
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = hullWkb(pts(a) ++ pts(b))
    def finish(buf: Array[Byte]): Array[Byte] =
      if (buf.isEmpty) Wkb.write(Geom.emptyGC)
      else Wkb.write(Algos.convexHull(Wkb.read(buf)))
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Length-prefixed WKB list packed into one byte array — lets
    * list-buffering aggregators use the BINARY encoder (cheap,
    * Tungsten-native) instead of Kryo object graphs.
    */
  private[functions] object WkbPack {
    // Layout: [usedBytes:int][count:int][len:int][wkb]...[len:int][wkb]
    // with slack capacity after `used` — append grows the backing array
    // by doubling and mutates in place when capacity allows (legal:
    // Aggregator.reduce returns the buffer), so a group of m geometries
    // costs O(total bytes) amortized, not the O(m^2) a full copy per
    // row costs. Slack survives Encoders.BINARY serialization (spill)
    // harmlessly: readers honor `used`, and merge emits exact-size.
    private def readInt(b: Array[Byte], p: Int): Int =
      ((b(p) & 0xFF) << 24) | ((b(p + 1) & 0xFF) << 16) |
        ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)
    private def writeInt(b: Array[Byte], p: Int, v: Int): Unit = {
      b(p) = (v >>> 24).toByte; b(p + 1) = (v >>> 16).toByte
      b(p + 2) = (v >>> 8).toByte; b(p + 3) = v.toByte
    }
    private def used(buf: Array[Byte]): Int = if (buf.length == 0) 0 else readInt(buf, 0)
    def append(buf: Array[Byte], wkb: Array[Byte]): Array[Byte] = {
      val u = used(buf)
      val c = count(buf)
      val need = 8 + u + 4 + wkb.length
      val out =
        if (buf.length >= need) buf
        else {
          val cap = math.max(need, math.max(64, buf.length * 2))
          val n = new Array[Byte](cap)
          if (buf.length > 0) System.arraycopy(buf, 0, n, 0, 8 + u)
          n
        }
      writeInt(out, 8 + u, wkb.length)
      System.arraycopy(wkb, 0, out, 12 + u, wkb.length)
      writeInt(out, 0, u + 4 + wkb.length)
      writeInt(out, 4, c + 1)
      out
    }
    def concat(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      if (a.length == 0) return b
      if (b.length == 0) return a
      val ua = used(a); val ub = used(b)
      val out = new Array[Byte](8 + ua + ub)
      writeInt(out, 0, ua + ub)
      writeInt(out, 4, count(a) + count(b))
      System.arraycopy(a, 8, out, 8, ua)
      System.arraycopy(b, 8, out, 8 + ua, ub)
      out
    }
    def unpack(buf: Array[Byte]): List[Array[Byte]] = {
      val out = List.newBuilder[Array[Byte]]
      if (buf.length == 0) return out.result()
      val end = 8 + used(buf)
      var p = 8
      while (p < end) {
        val n = readInt(buf, p)
        val w = new Array[Byte](n)
        System.arraycopy(buf, p + 4, w, 0, n)
        out += w
        p += 4 + n
      }
      out.result()
    }
    def pack(ws: Seq[Array[Byte]]): Array[Byte] =
      ws.foldLeft(Array.emptyByteArray)(append)
    def count(buf: Array[Byte]): Int = if (buf.length == 0) 0 else readInt(buf, 4)
    /** Payload bytes of the largest packed entry (0 for empty). */
    def maxEntryBytes(buf: Array[Byte]): Int = {
      if (buf.length == 0) return 0
      val end = 8 + used(buf)
      var p = 8
      var best = 0
      while (p < end) {
        val n = readInt(buf, p)
        if (n > best) best = n
        p += 4 + n
      }
      best
    }
    def usedBytes(buf: Array[Byte]): Int = used(buf)
    /** Unsigned-lexicographic byte compare — deterministic order
      * without serializing to WKT (O(prefix) vs O(total coords)).
      */
    val byteOrdering: Ordering[Array[Byte]] = new Ordering[Array[Byte]] {
      def compare(x: Array[Byte], y: Array[Byte]): Int = {
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val c = (x(i) & 0xFF) - (y(i) & 0xFF)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      }
    }
  }

  /** st_collect: gather geometries into Multi-or-GC form (SURVEY.md
    * section 2.12). Buffer = length-prefixed WKB pack; finish sorts on
    * raw WKB bytes for partition-order determinism and preserves the
    * common coordinate type (Z kept iff every input has Z, same for M —
    * reference: geom/geometry_collection.go ctype promotion).
    */
  object CollectAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(buf: Array[Byte], wkb: Array[Byte]): Array[Byte] =
      if (wkb == null) buf else WkbPack.append(buf, wkb)
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = WkbPack.concat(a, b)
    def finish(buf: Array[Byte]): Array[Byte] = {
      // deterministic result independent of partition order
      val ws = WkbPack.unpack(buf).sorted(WkbPack.byteOrdering)
      val gs = ws.map(Wkb.read)
      val out: Geom =
        if (gs.isEmpty) Geom.emptyGC
        else {
          val ct = gs.map(_.ct).reduce { (a, b) =>
            (if (CT.hasZ(a) && CT.hasZ(b)) 1 else 0) |
              (if (CT.hasM(a) && CT.hasM(b)) 2 else 0)
          }
          val cs = gs.map(g => Geom.forceCT(g, ct))
          if (cs.forall(_.typeCode == 1))
            GMPoint(cs.map(_.asInstanceOf[GPoint]).toArray, ct)
          else if (cs.forall(_.typeCode == 2))
            GMLine(cs.map(_.asInstanceOf[GLine].seq).toArray, ct)
          else if (cs.forall(_.typeCode == 3))
            GMPoly(cs.map(_.asInstanceOf[GPoly].rings).toArray, ct)
          else GColl(cs.toArray, ct)
        }
      Wkb.write(out)
    }
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  // --------------------------------------------------- SQL registration

  /** Register the whole surface for spark.sql use. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def reg1(name: String)(builder: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, es => builder(es), "built-in")

    for (op <- GeomOps.unary.keys)
      reg1(op) { es => GeomUnaryOp(op, es.head) }
    for (op <- GeomOps.binary.keys)
      reg1(op) { es => GeomBinaryOp(op, es(0), es(1)) }
    reg1("st_geomfromwkt") { es => StGeomFromWKT(es.head, strict = true) }
    reg1("st_trygeomfromwkt") { es => StGeomFromWKT(es.head, strict = false) }
    reg1("st_geomfromwkb") { es => StGeomFromWKB(es.head, strict = true) }
    reg1("st_geomfromgeojson") { es => StGeomFromGeoJson(es.head, strict = true) }
    reg1("st_point") { es => StPoint(es(0), es(1)) }
    reg1("st_makeenvelope") { es => StMakeEnvelope(es) }
    reg1("st_makepoint") { es => StMakePoint("st_makepoint", es) }
    reg1("st_makepointm") { es => StMakePoint("st_makepointm", es) }
    for (op <- Seq("st_makeline", "st_makemultipoint", "st_makepolygon",
      "st_makemultiline", "st_makemultipolygon"))
      reg1(op) { es => StMakeGeom(op, es) }
    reg1("st_clipbybox") { es => StClipByBox(es) }
    reg1("st_subdivide") { es => StSubdivide(es) }
    reg1("st_concavehull") { es => StConcaveHull(es) }
    reg1("st_voronoipolygons") { es => StVoronoiPolygons(es) }
    reg1("st_coveragesimplifyvw") { es => StCoverageSimplifyVW(es) }
    reg1("st_relatematch") { es => StRelateMatch(es(0), es(1)) }
    reg1("st_exactequals") { es => StExactEquals(es) }
    reg1("st_astwkb") { es => StAsTwkb(es(0), es(1)) }
    reg1("st_astwkbopts") { es => StAsTwkbFull(es) }
    reg1("st_geomfromtwkb") { es => StGeomFromTwkb(es.head) }
    reg1("st_twkbenvelope") { es => StTwkbEnvelope(es.head) }
    reg1("st_twkbidlist") { es => StTwkbIdList(es.head) }
    reg1("st_twkbsize") { es => StTwkbSize(es.head) }
    reg1("st_cellof") { es => StCellOf(es) }
    reg1("st_cellofequirect") { es => StCellOfEquirect(es) }
    reg1("st_cellix") { es => StCellIx(es.head) }
    reg1("st_celliy") { es => StCellIy(es.head) }
    reg1("st_cellcover") { es => StCellCover(es(0), es(1)) }
    reg1("st_cellring") { es => StCellRing(es(0), es(1)) }
    reg1("st_cellgeom") { es => StCellGeom(es.head) }
    reg1("st_cellbounds") { es => StCellBounds(es.head) }
    reg1("st_project") { es => StProject(es(0), es(1)) }
    reg1("st_affine") { es => StAffine(es) }
    for (op <- Seq("st_simplify", "st_simplifypreservetopology",
      "st_densify", "st_snaptogrid", "st_geometryn",
      "st_pointn", "st_interiorringn", "st_lineinterpolatepoint",
      "st_interpolatedpoints"))
      reg1(op) { es => GeomParamOp(op, es(0), es(1)) }
    reg1("st_buffer") { es =>
      if (es.length >= 3) StBufferStyled(es(0), es(1), es(2))
      else GeomParamOp("st_buffer", es(0), es(1))
    }
    for (op <- Seq("st_intersection_prec", "st_union_prec",
      "st_difference_prec", "st_symdifference_prec"))
      reg1(op) { es => StOverlayPrec(op, es(0), es(1), es(2)) }
    for (op <- Seq("st_featuregeometry", "st_featureid", "st_featureproperties",
      "st_featureforeignmembers", "st_features"))
      reg1(op) { es => JsonFeatureOp(op, es.head) }
    reg1("st_asgeojsonfeature") { es => StAsGeoJsonFeature(es) }

    reg1("vec_cosine") { es => VecCosine(es(0), es(1)) }
    reg1("simhash60") { es => StSimhash60(es.head) }

    spark.udf.register("st_envelope_agg", udaf(EnvelopeAgg))
    spark.udf.register("st_convexhull_agg", udaf(ConvexHullAgg))
    spark.udf.register("st_collect_agg", udaf(CollectAgg))
    spark.udf.register("st_union_agg", udaf(UnionAgg))
    spark.udf.register("st_coverageunion_agg", udaf(CoverageUnionAgg))
  }

  def st_envelopeAgg(c: Column): Column = udaf(EnvelopeAgg).apply(c)
  def st_convexHullAgg(c: Column): Column = udaf(ConvexHullAgg).apply(c)
  def st_collectAgg(c: Column): Column = udaf(CollectAgg).apply(c)
  def st_unionAgg(c: Column): Column = udaf(UnionAgg).apply(c)
  def st_coverageUnionAgg(c: Column): Column = udaf(CoverageUnionAgg).apply(c)
  def st_coverageUnion(c: Column): Column = u("st_coverageunion")(c)
  def st_coverageIsValid(c: Column): Column = u("st_coverageisvalid")(c)

  /** st_coverageunion_agg: union of a VALID polygonal coverage
    * (tiled data) by exact shared-edge cancellation — no overlay, no
    * noding, one linear pass (core/Coverage.scala; reference
    * geos/entrypoints.go:281-288). Cancellation over the edge
    * multiset is associative and commutative, and partial coverage
    * unions keep every surviving vertex chain bit-exact (no collinear
    * removal), so per-partition partials merge into the final result
    * exactly — the scale path for unioning a tile pyramid at 10^12
    * rows where st_union_agg's cascaded overlay would dominate.
    */
  object CoverageUnionAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    private val batch = 64
    private def collapse(buf: Array[Byte]): Array[Byte] = {
      val gs = WkbPack.unpack(buf).map(Wkb.read)
      WkbPack.pack(Seq(Wkb.write(Coverage.union(GColl(gs.toArray, CT.XY)))))
    }
    private def shouldCollapse(buf: Array[Byte]): Boolean = {
      val c = WkbPack.count(buf)
      c >= batch &&
        WkbPack.usedBytes(buf) - 4 * c >= 2 * WkbPack.maxEntryBytes(buf)
    }
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(buf: Array[Byte], wkb: Array[Byte]): Array[Byte] = {
      if (wkb == null || wkb.isEmpty) return buf
      val next = WkbPack.append(buf, wkb)
      if (shouldCollapse(next)) collapse(next) else next
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      val next = WkbPack.concat(a, b)
      if (shouldCollapse(next)) collapse(next) else next
    }
    def finish(buf: Array[Byte]): Array[Byte] =
      if (buf.isEmpty) Wkb.write(Geom.emptyGC)
      else Wkb.write(Coverage.union(
        GColl(WkbPack.unpack(buf).map(Wkb.read).toArray, CT.XY)))
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** st_union_agg: geometric union fold — union is associative and
    * commutative, so per-partition partial unions merge into the final
    * result exactly (reference: geom/alg_overlay.go:274-300 UnaryUnion/
    * UnionMany; SURVEY.md section 2.4).
    *
    * Buffer = length-prefixed pack of pending WKBs. Inputs accumulate
    * un-unioned until the pack holds `batch` geometries, then collapse
    * through SetOps.unionMany's cascaded (balanced-tree) union — each
    * input participates in O(log n) overlays, vs O(n) for the round-1
    * row-at-a-time fold that rebuilt the whole arrangement per row
    * (reference escalation point: operation_overlayng_overlay_ng_robust
    * .go:38-42 cascaded union). Memory stays bounded: at most `batch`
    * raw inputs + 1 collapsed partial per buffer.
    */
  object UnionAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    private val batch = 64
    private def collapse(buf: Array[Byte]): Array[Byte] = {
      val gs = WkbPack.unpack(buf).map(Wkb.read)
      WkbPack.pack(Seq(Wkb.write(SetOps.unionMany(gs))))
    }
    // Doubling-merge policy: collapsing on a fixed count re-nodes the
    // accumulated partial every `batch` rows — O(n^2/batch) per group.
    // Collapse only when the pending raw bytes rival the largest entry
    // (the previous partial), so each partial participates in O(log n)
    // collapses; memory stays within ~2x the collapsed-result size.
    private def shouldCollapse(buf: Array[Byte]): Boolean = {
      val c = WkbPack.count(buf)
      c >= batch &&
        WkbPack.usedBytes(buf) - 4 * c >= 2 * WkbPack.maxEntryBytes(buf)
    }
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(buf: Array[Byte], wkb: Array[Byte]): Array[Byte] = {
      if (wkb == null || wkb.isEmpty) return buf
      val next = WkbPack.append(buf, wkb)
      if (shouldCollapse(next)) collapse(next) else next
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      val next = WkbPack.concat(a, b)
      if (shouldCollapse(next)) collapse(next) else next
    }
    def finish(buf: Array[Byte]): Array[Byte] =
      if (buf.isEmpty) Wkb.write(Geom.emptyGC)
      else Wkb.write(SetOps.unionMany(WkbPack.unpack(buf).map(Wkb.read)))
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }
}
