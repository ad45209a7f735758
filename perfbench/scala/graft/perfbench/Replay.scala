package graft.perfbench

import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}

import graft.core.Geometry
import graft.core.Geometry.{Shape3, ShardTask, TrueShape}
import graft.plans.{Downsample, ImarisToZarr, PartialStore}
import graft.sinks.ZarrV3
import graft.sources.{Hdf5Reader, Imaris, Zarr3VoxelScanBuilder, Zarr3VoxelSource}

/** Named counters a replay adds to. */
final class Counters {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  def add(k: String, v: Long): Unit = m.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  def apply(k: String): Long = Option(m.get(k)).map(_.get).getOrElse(0L)
}

/** Replays the public per-task calls of the conversion and scan layers on
  * the same inputs and slot count, timing each call as a span. The real
  * tasks run inside private executor closures, so this is how the traced
  * run splits a task into layers. Replaying `encodeShard` then `write`
  * separates encode from I/O, which the streaming `writeShard` interleaves.
  */
object Replay {

  private def onSlots[A](slots: Int, items: Seq[A])(f: A => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(slots)
    try pool.invokeAll(items.map(a => (() => f(a)): Callable[Unit]).asJava)
      .asScala.foreach(_.get())
    finally pool.shutdown()
  }

  private def chunksIn(data: Shape3, chunk: Shape3): Long =
    Geometry.ceilDiv(data.z, chunk.z) * Geometry.ceilDiv(data.y, chunk.y) *
      Geometry.ceilDiv(data.x, chunk.x)

  private def dims(t: ShardTask): Shape3 = Shape3(t.z1 - t.z0, t.y1 - t.y0, t.x1 - t.x0)

  /** Replays one `convertAll` of a single tile in computed-pyramid, fused
    * mode: the read wave, then one wave per computed level, each wave on
    * `slots` threads.
    */
  def convert(tr: Tracer, c: Counters, conf: Configuration, ims: String, outDir: String,
              s: ImarisToZarr.Settings, slots: Int): Unit = {
    val meta = tr.span("hdf5.open", "plan")(_ => Imaris.readMeta(ims, conf))
    val shapes = (1 until s.computeLevels).scanLeft(meta.trueShape0.shape)(
      (sh, _) => Geometry.downsampledShape(sh, s.scaleFactor))
    val specs = shapes.map(Geometry.clampSpec(_, s.chunk, s.shard))
    val f = s.scaleFactor
    def partialPath(level: Int, t: ShardTask) = s"$outDir/partial$level/${t.sz}_${t.sy}_${t.sx}"
    def partialShape(t: ShardTask) = Shape3(
      Geometry.ceilDiv(t.z1, f.z) - t.z0 / f.z,
      Geometry.ceilDiv(t.y1, f.y) - t.y0 / f.y,
      Geometry.ceilDiv(t.x1, f.x) - t.x0 / f.x)

    // encode, write, and (when a next level exists) reduce + stash its partial
    def emit(id: Long, trace: String, level: Int, t: ShardTask, data: Array[Short],
             scratch: PartialStore.Scratch): Unit = {
      val (chunk, shard) = specs(level)
      val shape = dims(t)
      val bytes = tr.span("zarr.encode", trace, id)(_ =>
        ZarrV3.encodeShard(data, shape, shard, chunk, s.zstdLevel, s.codecName))
      c.add("zarr.chunks_encoded", chunksIn(shape, chunk))
      c.add("zarr.bytes_out", bytes.length)
      tr.span("fs.write", trace, id)(_ =>
        ZarrV3.write(conf, s"$outDir/$level/${ZarrV3.shardKey(t.sz, t.sy, t.sx)}", bytes))
      c.add("fs.files_written", 1)
      if (level + 1 < s.computeLevels) {
        val ps = partialShape(t)
        val out = new Array[Short](ps.voxels.toInt)
        tr.span("downsample.reduce", trace, id)(_ =>
          Downsample.reduceInto(data, shape, ps, f, s.downsampleMode, out))
        c.add("downsample.voxels_out", ps.voxels)
        val path = partialPath(level + 1, t)
        tr.span("partial.write", trace, id)(_ => PartialStore.write(conf, path, out, ps, scratch))
        c.add("partial.bytes", new java.io.File(path).length)
      }
    }

    val l0 = Geometry.shardTasks(ims, 0, TrueShape(shapes(0)), specs(0)._2)
    onSlots(slots, l0) { t =>
      val trace = s"L0/${t.sz}/${t.sy}/${t.sx}"
      tr.span("task", trace) { id =>
        val reader = tr.span("hdf5.open", trace, id)(_ => new Hdf5Reader(ims, conf))
        try {
          val ds = tr.span("hdf5.open", trace, id)(_ => reader.openDataset(Imaris.dataPath(0)))
          val (cz, cy, cx) = (ds.chunk(0), ds.chunk(1), ds.chunk(2))
          ds.chunkIndex.foreach { case ((z, y, x), (_, len)) =>
            if (z < t.z1 && z + cz > t.z0 && y < t.y1 && y + cy > t.y0 && x < t.x1 && x + cx > t.x0) {
              c.add("hdf5.chunks", 1); c.add("hdf5.bytes_in", len)
            }
          }
          val buf = new Array[Short](dims(t).voxels.toInt)
          tr.span("hdf5.read", trace, id)(_ =>
            reader.readRegionInto(ds, t.z0, t.z1, t.y0, t.y1, t.x0, t.x1, buf))
          c.add("hdf5.bytes_out", buf.length * 2L)
          emit(id, trace, 0, t, buf, new PartialStore.Scratch)
        } finally reader.close()
      }
    }

    for (level <- 1 until s.computeLevels) {
      val src = shapes(level - 1)
      val g = specs(level - 1)._2
      val tasks = Geometry.shardTasks(s"$outDir/${level - 1}", level,
        TrueShape(shapes(level)), specs(level)._2)
      onSlots(slots, tasks) { t =>
        val trace = s"L$level/${t.sz}/${t.sy}/${t.sx}"
        tr.span("task", trace) { id =>
          val scratch = new PartialStore.Scratch
          val shape = dims(t)
          val dst = new Array[Short](shape.voxels.toInt)
          // assemble this task's region from the previous wave's partials
          val grid = Geometry.shardGrid(src, g)
          Geometry.enumerateShardIndices(grid).foreach { case (gz, gy, gx) =>
            val srcTask = ShardTask("", level - 1, gz, gy, gx,
              gz * g.z, math.min((gz + 1) * g.z, src.z), gy * g.y, math.min((gy + 1) * g.y, src.y),
              gx * g.x, math.min((gx + 1) * g.x, src.x))
            val ps = partialShape(srcTask)
            val (p0z, p0y, p0x) = (srcTask.z0 / f.z, srcTask.y0 / f.y, srcTask.x0 / f.x)
            val lo = Shape3(math.max(t.z0, p0z), math.max(t.y0, p0y), math.max(t.x0, p0x))
            val hi = Shape3(math.min(t.z1, p0z + ps.z), math.min(t.y1, p0y + ps.y), math.min(t.x1, p0x + ps.x))
            if (lo.z < hi.z && lo.y < hi.y && lo.x < hi.x) {
              val part = new Array[Short](ps.voxels.toInt)
              tr.span("partial.read", trace, id)(_ =>
                PartialStore.readInto(conf, partialPath(level, srcTask), ps, part, scratch))
              var z = lo.z
              while (z < hi.z) {
                var y = lo.y
                while (y < hi.y) {
                  System.arraycopy(part, (((z - p0z) * ps.y + (y - p0y)) * ps.x + (lo.x - p0x)).toInt,
                    dst, (((z - t.z0) * shape.y + (y - t.y0)) * shape.x + (lo.x - t.x0)).toInt,
                    (hi.x - lo.x).toInt)
                  y += 1
                }
                z += 1
              }
            }
          }
          emit(id, trace, level, t, dst, scratch)
        }
      }
    }
  }

  /** Replays a `zarr3voxels` scan of one level: the shard listing and
    * pruning `planInputPartitions` does for `filters`, then each surviving
    * shard's read and decode on `slots` threads. Returns (shards read,
    * shards in level).
    */
  def scan(tr: Tracer, c: Counters, conf: Configuration, levelDir: String,
           filters: Array[Filter], slots: Int, trace: String): (Int, Long) = {
    val parts = tr.span("scan.plan", trace) { _ =>
      val b = new Zarr3VoxelScanBuilder(levelDir)
      b.pushFilters(filters)
      b.build().toBatch.planInputPartitions()
    }
    val (shape, shard, chunk) = Zarr3VoxelSource.levelGeometry(conf, levelDir)
    onSlots(slots, parts.toSeq) { p =>
      val part = p.asInstanceOf[graft.sources.Zarr3VoxelPartition]
      val bytes = tr.span("fs.read", trace)(_ => ZarrV3.read(conf, part.shardPath))
      val out = new Array[Short](part.dataShape.voxels.toInt)
      tr.span("zarr.decode", trace)(_ =>
        ZarrV3.decodeShardInto(bytes, part.dataShape, part.shard, part.chunk, out))
      c.add("zarr.chunks_decoded", chunksIn(part.dataShape, chunk))
    }
    (parts.length, Geometry.shardGrid(shape, shard).voxels)
  }

  def boxFilters(b: Seq[Long]): Array[Filter] = Array(
    GreaterThanOrEqual("z", b(0)), LessThanOrEqual("z", b(1)),
    GreaterThanOrEqual("y", b(2)), LessThanOrEqual("y", b(3)),
    GreaterThanOrEqual("x", b(4)), LessThanOrEqual("x", b(5)))
}
