package graft.core

/** Axis-aligned box `[start, stop)` — the reference's only composite
  * abstraction, an immutable `(2, ndim)` int array with smart constructors
  * and algebra (/root/reference/imops/box.py:13-74).
  */
final case class Box(start: Seq[Int], stop: Seq[Int]) {
  require(start.length == stop.length, s"rank mismatch: ${start.length} vs ${stop.length}")
  require(start.zip(stop).forall { case (a, b) => a <= b },
    s"start must be <= stop elementwise: $start vs $stop") // box.py:31-35 validation
  def rank: Int = start.length
  /** `box_to_shape` — /root/reference/imops/box.py:66-67 */
  def shape: Seq[Int] = start.zip(stop).map { case (a, b) => b - a }
  /** `add_margin` — /root/reference/imops/box.py:70-74 */
  def addMargin(margin: Seq[Int]): Box =
    Box(start.zip(margin).map { case (a, m) => a - m }, stop.zip(margin).map { case (b, m) => b + m })
  def addMargin(margin: Int): Box = addMargin(Seq.fill(rank)(margin))
  def contains(other: Box): Boolean =
    start.zip(other.start).forall { case (a, b) => a <= b } &&
      stop.zip(other.stop).forall { case (a, b) => a >= b }
  def numel: Long = shape.foldLeft(1L)(_ * _.toLong)
  /** `build_slices` — per-axis (start, stop, step) triples
    * (/root/reference/imops/utils.py:172-199). */
  def buildSlices(step: Seq[Int]): Seq[(Int, Int, Int)] = {
    require(step.length == rank, "step rank mismatch")
    start.lazyZip(stop).lazyZip(step).map((a, b, s) => (a, b, s)).toSeq
  }
  def buildSlices: Seq[(Int, Int, Int)] = buildSlices(Seq.fill(rank)(1))
}

object Box {
  /** `make_box` — /root/reference/imops/box.py:16-27 */
  def make(pairs: Seq[(Int, Int)]): Box = Box(pairs.map(_._1), pairs.map(_._2))
  /** `shape_to_box` — /root/reference/imops/box.py:58-63 */
  def fromShape(shape: Seq[Int]): Box = Box(Seq.fill(shape.length)(0), shape)
  /** `mask_to_box` — tight bounding box of the true cells of a flat boolean
    * mask (/root/reference/imops/box.py:39-55); errors on an empty mask. */
  def fromMask(mask: Array[Boolean], shape: Array[Int]): Box = {
    val n = shape.length
    val strides = NdTensor.strides(shape)
    val lo = Array.fill(n)(Int.MaxValue)
    val hi = Array.fill(n)(Int.MinValue)
    var flat = 0
    val idx = new Array[Int](n)
    while (flat < mask.length) {
      if (mask(flat)) {
        var d = 0
        while (d < n) {
          val c = (flat / strides(d)) % shape(d)
          if (c < lo(d)) lo(d) = c
          if (c > hi(d)) hi(d) = c
          d += 1
        }
      }
      flat += 1
    }
    require(hi(0) != Int.MinValue, "mask_to_box: empty mask") // box.py:42-43
    Box(lo.toSeq, hi.map(_ + 1).toSeq)
  }
}
