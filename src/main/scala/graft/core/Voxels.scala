package graft.core

import java.nio.{ByteBuffer, ByteOrder}

import graft.core.Geometry.Shape3

/** The voxel-copy kernel of the array path: every move of uint16 voxels
  * between a tile (an HDF5 chunk, a Zarr chunk or shard, a partial) and
  * a region buffer goes through [[forEachTile]] + [[copyBox]], and every
  * conversion to or from little-endian bytes through [[toLE]] /
  * [[fromLE]].
  *
  * Buffers are C-order (Z, Y, X) `Array[Short]`s. A buffer is described
  * by its shape and by its origin: the global coordinate of its voxel
  * (0, 0, 0). A buffer may be longer than its shape (a reused scratch);
  * only the leading `shape.voxels` elements are read or written.
  */
object Voxels {

  /** One tile met by [[forEachTile]]: its grid index, its origin and its
    * shape clipped to the array bounds, and the box (`lo`, `extent`) it
    * shares with the walked region. The box is never empty.
    */
  final case class Tile(gz: Long, gy: Long, gx: Long,
                        origin: Shape3, shape: Shape3, lo: Shape3, extent: Shape3) {
    /** The shared box's exclusive end, `lo + extent`. */
    def hi: Shape3 = Shape3(lo.z + extent.z, lo.y + extent.y, lo.x + extent.x)
  }

  /** Visit, in C order, every tile of the regular `tile`-shaped grid
    * that overlaps the half-open region [`lo`, `hi`), with tiles clipped
    * to [0, `bounds`). Region parts outside `bounds` are not visited.
    */
  def forEachTile(lo: Shape3, hi: Shape3, tile: Shape3, bounds: Shape3)(f: Tile => Unit): Unit = {
    require(tile.z > 0 && tile.y > 0 && tile.x > 0, s"tile must be positive: $tile")
    val endZ = math.min(hi.z, bounds.z)
    val endY = math.min(hi.y, bounds.y)
    val endX = math.min(hi.x, bounds.x)
    if (lo.z >= endZ || lo.y >= endY || lo.x >= endX) return
    var gz = lo.z / tile.z
    while (gz * tile.z < endZ) {
      val oz = gz * tile.z
      val bz = math.max(lo.z, oz)
      var gy = lo.y / tile.y
      while (gy * tile.y < endY) {
        val oy = gy * tile.y
        val by = math.max(lo.y, oy)
        var gx = lo.x / tile.x
        while (gx * tile.x < endX) {
          val ox = gx * tile.x
          val bx = math.max(lo.x, ox)
          val origin = Shape3(oz, oy, ox)
          val shape = Shape3(math.min(tile.z, bounds.z - oz), math.min(tile.y, bounds.y - oy),
            math.min(tile.x, bounds.x - ox))
          f(Tile(gz, gy, gx, origin, shape, Shape3(bz, by, bx), Shape3(
            math.min(endZ, oz + tile.z) - bz, math.min(endY, oy + tile.y) - by,
            math.min(endX, ox + tile.x) - bx)))
          gx += 1
        }
        gy += 1
      }
      gz += 1
    }
  }

  /** Copy the box [`lo`, `lo + extent`) (global coordinates) from `src`
    * to `dst`, one `System.arraycopy` per x-run. A non-empty box must lie
    * inside both buffers.
    */
  def copyBox(src: Array[Short], srcShape: Shape3, srcOrigin: Shape3,
              dst: Array[Short], dstShape: Shape3, dstOrigin: Shape3,
              lo: Shape3, extent: Shape3): Unit = {
    if (extent.voxels == 0) return
    def inside(shape: Shape3, origin: Shape3, len: Int, what: String): Unit =
      require(origin.z <= lo.z && lo.z + extent.z <= origin.z + shape.z &&
        origin.y <= lo.y && lo.y + extent.y <= origin.y + shape.y &&
        origin.x <= lo.x && lo.x + extent.x <= origin.x + shape.x &&
        shape.voxels <= len,
        s"box $lo+$extent outside the $what buffer $origin+$shape (length $len)")
    inside(srcShape, srcOrigin, src.length, "source")
    inside(dstShape, dstOrigin, dst.length, "destination")
    val run = extent.x.toInt
    var z = 0L
    while (z < extent.z) {
      var y = 0L
      while (y < extent.y) {
        val gz = lo.z + z; val gy = lo.y + y
        val s = ((gz - srcOrigin.z) * srcShape.y + (gy - srcOrigin.y)) * srcShape.x + (lo.x - srcOrigin.x)
        val d = ((gz - dstOrigin.z) * dstShape.y + (gy - dstOrigin.y)) * dstShape.x + (lo.x - dstOrigin.x)
        System.arraycopy(src, s.toInt, dst, d.toInt, run)
        y += 1
      }
      z += 1
    }
  }

  /** Write `n` voxels of `src` as little-endian bytes to `dst` from 0. */
  def toLE(src: Array[Short], n: Int, dst: Array[Byte]): Unit =
    ByteBuffer.wrap(dst, 0, 2 * n).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer().put(src, 0, n)

  /** Read `n` little-endian voxels from `src` at byte `srcOff` into `dst` from 0. */
  def fromLE(src: Array[Byte], srcOff: Int, dst: Array[Short], n: Int): Unit =
    ByteBuffer.wrap(src, srcOff, 2 * n).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer().get(dst, 0, n)
}
