package graft.kernels

/** Linear 2-D scattered-data interpolation, semantics of the reference's
  * `Linear2DInterpolator` (/root/reference/imops/interp2d.py:12-121 and the
  * C++ headers under /root/reference/imops/cpp/interp2d/): Delaunay-
  * triangulate the sample
  * points, interpolate each query barycentrically inside its containing
  * triangle, `fillValue` outside the hull.
  *
  * The reference triangulates with delaunator (C++) and seeds a triangle
  * walk from a KD-tree nearest neighbor; we use Bowyer–Watson incremental
  * triangulation (public-domain algorithm) and a walk from the last-hit
  * triangle. The Spark form broadcasts the triangulation (built once from
  * the small sample set) and maps queries — no shuffle on the query side.
  */
object Interp2dKernel {

  final case class Triangulation(px: Array[Double], py: Array[Double],
                                 tris: Array[Int] /* 3*i..3*i+2 vertex ids */) {
    def nTris: Int = tris.length / 3
  }

  private final val Eps = 1e-12

  /** Bowyer–Watson incremental Delaunay triangulation. */
  def triangulate(px: Array[Double], py: Array[Double]): Triangulation = {
    val n = px.length
    require(n >= 3, "need at least 3 points")
    // super-triangle enclosing all points
    val minX = px.min; val maxX = px.max
    val minY = py.min; val maxY = py.max
    val d = math.max(maxX - minX, maxY - minY).max(1.0) * 10
    val cx = (minX + maxX) / 2; val cy = (minY + maxY) / 2
    val vx = px ++ Array(cx - 2 * d, cx, cx + 2 * d)
    val vy = py ++ Array(cy - d, cy + 2 * d, cy - d)
    val s0 = n; val s1 = n + 1; val s2 = n + 2

    final case class T(a: Int, b: Int, c: Int) {
      val (ccx, ccy, rr) = {
        val ax = vx(a); val ay = vy(a)
        val bx = vx(b); val by = vy(b)
        val cx0 = vx(c); val cy0 = vy(c)
        val dd = 2 * (ax * (by - cy0) + bx * (cy0 - ay) + cx0 * (ay - by))
        val ux = ((ax * ax + ay * ay) * (by - cy0) + (bx * bx + by * by) * (cy0 - ay) +
          (cx0 * cx0 + cy0 * cy0) * (ay - by)) / dd
        val uy = ((ax * ax + ay * ay) * (cx0 - bx) + (bx * bx + by * by) * (ax - cx0) +
          (cx0 * cx0 + cy0 * cy0) * (bx - ax)) / dd
        (ux, uy, (ux - ax) * (ux - ax) + (uy - ay) * (uy - ay))
      }
      def circumContains(x: Double, y: Double): Boolean =
        (x - ccx) * (x - ccx) + (y - ccy) * (y - ccy) < rr + Eps
    }

    var tris = List(T(s0, s1, s2))
    var p = 0
    while (p < n) {
      val (bad, good) = tris.partition(_.circumContains(vx(p), vy(p)))
      // boundary edges of the cavity = edges appearing exactly once among bad
      val edgeCount = scala.collection.mutable.Map.empty[(Int, Int), Int]
      def key(u: Int, v: Int) = if (u < v) (u, v) else (v, u)
      bad.foreach { t =>
        Seq((t.a, t.b), (t.b, t.c), (t.c, t.a)).foreach { case (u, v) =>
          edgeCount(key(u, v)) = edgeCount.getOrElse(key(u, v), 0) + 1
        }
      }
      val cavity = bad.flatMap { t =>
        Seq((t.a, t.b), (t.b, t.c), (t.c, t.a)).filter { case (u, v) => edgeCount(key(u, v)) == 1 }
      }
      tris = good ++ cavity.map { case (u, v) => T(u, v, p) }
      p += 1
    }
    val out = tris.filterNot(t => t.a >= n || t.b >= n || t.c >= n)
    Triangulation(px, py, out.flatMap(t => Seq(t.a, t.b, t.c)).toArray)
  }

  /** Barycentric weights of (qx,qy) in triangle i; null if degenerate. */
  private def bary(tr: Triangulation, i: Int, qx: Double, qy: Double): Array[Double] = {
    val a = tr.tris(3 * i); val b = tr.tris(3 * i + 1); val c = tr.tris(3 * i + 2)
    val ax = tr.px(a); val ay = tr.py(a)
    val bx = tr.px(b); val by = tr.py(b)
    val cx = tr.px(c); val cy = tr.py(c)
    val det = (by - cy) * (ax - cx) + (cx - bx) * (ay - cy)
    if (math.abs(det) < Eps) null
    else {
      val w0 = ((by - cy) * (qx - cx) + (cx - bx) * (qy - cy)) / det
      val w1 = ((cy - ay) * (qx - cx) + (ax - cx) * (qy - cy)) / det
      Array(w0, w1, 1.0 - w0 - w1)
    }
  }

  /** Uniform-grid triangle index: each cell lists the triangles whose
    * bounding box overlaps it — the role of the reference's KD-tree seed
    * (/root/reference/imops/interp2d.py:117-119): O(1) candidate lookup per
    * query instead of scanning all triangles. */
  final class TriGrid(tr: Triangulation, cellsPerAxis: Int) extends Serializable {
    val minX: Double = tr.px.min
    val minY: Double = tr.py.min
    private val maxX = tr.px.max
    private val maxY = tr.py.max
    val sx: Double = math.max((maxX - minX) / cellsPerAxis, 1e-12)
    val sy: Double = math.max((maxY - minY) / cellsPerAxis, 1e-12)
    private val buckets = Array.fill(cellsPerAxis * cellsPerAxis)(List.empty[Int])
    private def cellOf(x: Double, y: Double): (Int, Int) = (
      math.min(cellsPerAxis - 1, math.max(0, ((x - minX) / sx).toInt)),
      math.min(cellsPerAxis - 1, math.max(0, ((y - minY) / sy).toInt)))
    for (t <- 0 until tr.nTris) {
      val vs = Seq(tr.tris(3 * t), tr.tris(3 * t + 1), tr.tris(3 * t + 2))
      val (cx0, cy0) = cellOf(vs.map(tr.px).min, vs.map(tr.py).min)
      val (cx1, cy1) = cellOf(vs.map(tr.px).max, vs.map(tr.py).max)
      for (cx <- cx0 to cx1; cy <- cy0 to cy1)
        buckets(cx * cellsPerAxis + cy) ::= t
    }
    def candidates(x: Double, y: Double): List[Int] = {
      val (cx, cy) = cellOf(x, y)
      buckets(cx * cellsPerAxis + cy)
    }
  }

  def buildGrid(tr: Triangulation): TriGrid =
    new TriGrid(tr, math.max(4, math.sqrt(tr.nTris.toDouble).toInt))

  /** Interpolate one query point; fill outside the hull. Linear scan. */
  def interpolate(tr: Triangulation, values: Array[Double],
                  qx: Double, qy: Double, fill: Double): Double =
    interpolateOver(tr, values, (0 until tr.nTris).iterator, qx, qy, fill)

  /** Bucketed variant: only the query cell's candidate triangles. */
  def interpolateFast(tr: Triangulation, grid: TriGrid, values: Array[Double],
                      qx: Double, qy: Double, fill: Double): Double =
    interpolateOver(tr, values, grid.candidates(qx, qy).iterator, qx, qy, fill)

  private def interpolateOver(tr: Triangulation, values: Array[Double],
                              tris: Iterator[Int], qx: Double, qy: Double,
                              fill: Double): Double = {
    val tol = -1e-9
    while (tris.hasNext) {
      val i = tris.next()
      val w = bary(tr, i, qx, qy)
      if (w != null && w(0) >= tol && w(1) >= tol && w(2) >= tol) {
        val a = tr.tris(3 * i); val b = tr.tris(3 * i + 1); val c = tr.tris(3 * i + 2)
        return w(0) * values(a) + w(1) * values(b) + w(2) * values(c)
      }
    }
    fill
  }
}
