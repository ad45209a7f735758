package graft.core

/** Pure geometry kernel for the chunked-array pipeline.
  *
  * Re-expresses the reference's shard/block math as total functions over
  * explicit types (reference: compute_shard_grid / shard_index_to_slices /
  * enumerate_shard_indices `compress/imaris_to_zarr.py:277-372`,
  * compute_downsampled_shape `:56-87`, spec clamping `:205-220`,
  * true-shape ratio walk `utils/io_utils.py:468-525`, scale-factor
  * inference `compress/imaris_to_zarr.py:2332-2351`).
  *
  * Everything here runs at *planning time* on the driver (shapes are
  * O(10^5) grid cells max) — the Spark job operates on the resulting
  * [[ShardTask]] rows, never on driver-side loops over voxels.
  */
object Geometry {

  /** A 3-D shape/extent in (Z, Y, X) voxel order. */
  final case class Shape3(z: Long, y: Long, x: Long) {
    require(z >= 0 && y >= 0 && x >= 0, s"negative extent: ($z,$y,$x)")
    def toSeq: Seq[Long] = Seq(z, y, x)
    def voxels: Long = z * y * x
  }
  object Shape3 {
    def apply(s: Seq[Long]): Shape3 = { require(s.length == 3); Shape3(s(0), s(1), s(2)) }
  }

  /** The authoritative *unpadded* image shape (reference X7: the HDF5
    * dataset is padded to a multiple of 64 and must not be trusted —
    * `io_utils.py:452-466`). Wrapping it in its own type keeps padded
    * shapes from leaking into shard grids.
    */
  final case class TrueShape(shape: Shape3) extends AnyVal

  /** Half-open 1-D interval [lo, hi). */
  final case class Span(lo: Long, hi: Long) {
    require(0 <= lo && lo <= hi, s"bad span [$lo,$hi)")
    def len: Long = hi - lo
  }

  /** Half-open 3-D region: the read/write unit of one shard task. */
  final case class Region3(z: Span, y: Span, x: Span) {
    def voxels: Long = z.len * y.len * x.len
    def shape: Shape3 = Shape3(z.len, y.len, x.len)
  }

  /** ceil(n / d) for positive d. */
  def ceilDiv(n: Long, d: Long): Long = { require(d > 0); (n + d - 1) / d }

  /** The smallest multiple of `unit` per axis that covers `shape`. */
  def cover(shape: Shape3, unit: Shape3): Shape3 =
    Shape3(ceilDiv(shape.z, unit.z) * unit.z, ceilDiv(shape.y, unit.y) * unit.y,
      ceilDiv(shape.x, unit.x) * unit.x)

  /** Downsampled shape: per-axis ceil division by the factor
    * (reference `compute_downsampled_shape`, `imaris_to_zarr.py:56-87`).
    */
  def downsampledShape(shape: Shape3, factor: Shape3): Shape3 = {
    require(factor.z > 0 && factor.y > 0 && factor.x > 0, "factor must be positive")
    Shape3(ceilDiv(shape.z, factor.z), ceilDiv(shape.y, factor.y), ceilDiv(shape.x, factor.x))
  }

  /** Number of shards per axis: ceil(shape/shard) (reference
    * `compute_shard_grid`, `imaris_to_zarr.py:277-304`).
    */
  def shardGrid(shape: Shape3, shard: Shape3): Shape3 = {
    require(shard.z > 0 && shard.y > 0 && shard.x > 0, "shard must be positive")
    Shape3(ceilDiv(shape.z, shard.z), ceilDiv(shape.y, shard.y), ceilDiv(shape.x, shard.x))
  }

  /** Row-major (Z, Y, X) enumeration of shard indices (reference
    * `enumerate_shard_indices`, `imaris_to_zarr.py:342-372`).
    */
  def enumerateShardIndices(grid: Shape3): Iterator[(Long, Long, Long)] =
    for {
      sz <- Iterator.range(0L, grid.z)
      sy <- Iterator.range(0L, grid.y)
      sx <- Iterator.range(0L, grid.x)
    } yield (sz, sy, sx)

  /** Shard index → clamped global region (reference
    * `shard_index_to_slices`, `imaris_to_zarr.py:307-339`): the last
    * shard per axis is clipped to the array bound.
    */
  def shardRegion(idx: (Long, Long, Long), shard: Shape3, shape: Shape3): Region3 = {
    def span(i: Long, s: Long, n: Long): Span = {
      val lo = i * s
      require(lo < n, s"shard index $i out of range for extent $n step $s")
      Span(lo, math.min(lo + s, n))
    }
    Region3(span(idx._1, shard.z, shape.z), span(idx._2, shard.y, shape.y), span(idx._3, shard.x, shape.x))
  }

  /** Clamp a (chunk, shard) spec to the data (reference clamping rules,
    * `imaris_to_zarr.py:205-220`; golden-tested in
    * `tests/test_downsample_pyramid.py:347-372`), in the reference's
    * exact order so shard grids (and hence store file layouts) match
    * byte-for-byte:
    *  - chunk ≤ data extent per axis;
    *  - shard clamped to the data extent FIRST, then rounded *down* to a
    *    multiple of chunk, then raised to at least one chunk.
    * (Clamp-before-align matters: data=95, chunk=10, shard=100 gives 90
    * here — align-before-clamp would give 100.)
    */
  def clampSpec(data: Shape3, chunk: Shape3, shard: Shape3): (Shape3, Shape3) = {
    def one(n: Long, c0: Long, s0: Long): (Long, Long) = {
      val c = math.max(1L, math.min(c0, n))
      val s = math.max(c, (math.min(s0, n) / c) * c)
      (c, s)
    }
    val (cz, sz) = one(data.z, chunk.z, shard.z)
    val (cy, sy) = one(data.y, chunk.y, shard.y)
    val (cx, sx) = one(data.x, chunk.x, shard.x)
    (Shape3(cz, cy, cx), Shape3(sz, sy, sx))
  }

  /** Per-level true (unpadded) shapes by ratio-walking the stored level
    * shapes (reference `io_utils.py:468-525`): level l's true shape is
    * the level-0 true shape divided by the *inferred* cumulative factor,
    * where each step factor = round(prevStored / currStored) per axis.
    */
  def trueShapesPerLevel(true0: TrueShape, storedShapes: Seq[Shape3]): Seq[Shape3] = {
    require(storedShapes.nonEmpty)
    val factors = stepFactors(storedShapes)
    factors.scanLeft(true0.shape) { (prevTrue, f) => downsampledShape(prevTrue, f) }
  }

  /** Per-step scale factors between consecutive stored level shapes:
    * factor = max(1, round(prev/curr)) per axis (reference
    * `imaris_to_zarr.py:2332-2351` and `io_utils.py:510-523`).
    */
  def stepFactors(storedShapes: Seq[Shape3]): Seq[Shape3] =
    storedShapes.sliding(2).collect { case Seq(prev, curr) =>
      def f(p: Long, c: Long): Long = math.max(1L, math.round(p.toDouble / c.toDouble))
      Shape3(f(prev.z, curr.z), f(prev.y, curr.y), f(prev.x, curr.x))
    }.toSeq

  /** Representative scale factor = the first step's (reference takes
    * factors[0] as the multiscale metadata factor, `imaris_to_zarr.py:2349`).
    */
  def representativeFactor(storedShapes: Seq[Shape3]): Shape3 =
    stepFactors(storedShapes).headOption.getOrElse(Shape3(1, 1, 1))

  /** One shard-write work item: everything an executor task needs to read
    * its input region and write its output shard, with no other
    * coordination (reference task dicts `imaris_to_zarr.py:517-527`; the
    * one-shard-one-task invariant is `:1280-1283`).
    */
  final case class ShardTask(
      file: String,
      level: Int,
      sz: Long, sy: Long, sx: Long, // shard index in the grid
      z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long // clamped region
  ) {
    def region: Region3 = Region3(Span(z0, z1), Span(y0, y1), Span(x0, x1))
  }

  /** Enumerate all shard tasks of one (file, level) from its TRUE shape
    * (reference `_build_global_shard_task_list`, `imaris_job.py:535-556` —
    * which plans from metadata shape, never the padded dataset shape).
    */
  def shardTasks(file: String, level: Int, trueShape: TrueShape, shard: Shape3): Seq[ShardTask] = {
    val shape = trueShape.shape
    if (shape.voxels == 0) Seq.empty
    else
      enumerateShardIndices(shardGrid(shape, shard)).map { idx =>
        val r = shardRegion(idx, shard, shape)
        ShardTask(file, level, idx._1, idx._2, idx._3,
          r.z.lo, r.z.hi, r.y.lo, r.y.hi, r.x.lo, r.x.hi)
      }.toSeq
  }
}
