package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one keyed cache of derived state: persisted frames, trained
  * models and probe results, and on-disk indexes and exports. Reuse is a
  * pure substitution — every build is deterministic in its inputs, so a
  * hit is bit-identical to rebuilding.
  *
  * Keys and snapshot. Every entry is keyed by (kind, key) and guarded by
  * a CONTENT SNAPSHOT of the input paths the caller names (path + mtime +
  * length of every file under them, a driver-side Hadoop FS listing — no
  * data read). A rewrite at the same path changes the snapshot, and the
  * next call rebuilds instead of serving stale state. Concurrent callers
  * of one key share one build through a per-key latch (pruned once the
  * build settles); different keys build in parallel, and the object lock
  * never spans a build or a spill. [[buildCount]] counts builds per kind.
  *
  * Entry points and lifetimes.
  *   - [[getOrBuild]]: a frame, persisted as an owned row RDD, measured,
  *     and bound to the session that built it (another session, or a
  *     restarted one, rebuilds). Evicted with its session: by
  *     [[evict]], and eagerly when the session's context stops.
  *   - [[value]]: any driver-side value (a model, a probe result).
  *     JVM-wide; it survives [[evict]] unless its kind is named there.
  *   - [[stored]]: an on-disk artifact built into a fresh temp directory.
  *     JVM-wide like values. The directory of a failed or superseded
  *     build is deleted at JVM exit, never eagerly: a query planned
  *     against the old path may still be running.
  *
  * Budget and tiers (frames only). `spark.graft.memo.maxBytes` (default
  * heap/8) bounds the in-memory frames. A frame larger than the budget
  * goes to the DISK TIER: spilled once to parquet, its blocks freed, and
  * every reuse served by a columnar scan of the spill. When the in-memory
  * total crosses the budget, the oldest frames are DEMOTED to the disk
  * tier on a background thread. Spills go under `spark.graft.memo.diskRoot`
  * (a shared filesystem); without it a local master uses a per-JVM temp
  * root, and a non-local master drops over-budget frames and rebuilds them
  * per query, because a driver-local spill would be unreadable by
  * executors. Each frame admission prints one `[memo] <kind>: measured`
  * line, and a session whose working set (latest size per key) first
  * crosses the budget gets one warning.
  */
object SessionMemo {
  private type Key = (String, Any)

  private sealed trait Entry { def snapshot: String }
  // store: Left = in-memory tier (owned persisted rows), Right = spill path
  private final case class Frame(
      session: SparkSession, snapshot: String, df: DataFrame,
      store: Either[RDD[Row], String], bytes: Long, seq: Long) extends Entry
  private final case class Value(snapshot: String, v: Any) extends Entry
  private final case class Stored(snapshot: String, path: String) extends Entry

  private val slots = scala.collection.mutable.Map.empty[Key, Entry]
  private val builds = scala.collection.mutable.Map.empty[String, Long]
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[Key, Object]()
  private var seqCounter = 0L

  // per-session bookkeeping; weak keys so a stopped session is never pinned
  private final class SessionState {
    val workingSet = scala.collection.mutable.Map.empty[Key, Long]
    var budgetWarned = false
    var evictionHooked = false
    // bumped by evict(): a demotion selected before it must not re-insert
    var epoch = 0L
  }
  private val sessions = new java.util.WeakHashMap[SparkSession, SessionState]()
  private def stateLocked(s: SparkSession): SessionState =
    Option(sessions.get(s)).getOrElse {
      val st = new SessionState; sessions.put(s, st); st
    }

  /** Frame budget in bytes (`spark.graft.memo.maxBytes`, default heap/8). */
  def maxBytes(s: SparkSession): Long =
    s.conf.getOption("spark.graft.memo.maxBytes").map(_.toLong)
      .getOrElse(Runtime.getRuntime.maxMemory() / 8)

  /** path:mtime:length of every file under `inputs`, sorted. */
  private def snapshot(s: SparkSession, inputs: Seq[String]): String = {
    val conf = s.sparkContext.hadoopConfiguration
    inputs.flatMap { in =>
      val p = new org.apache.hadoop.fs.Path(in)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq(s"$in:absent")
      else {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          buf += s"${st.getPath}:${st.getModificationTime}:${st.getLen}"
        }
        buf
      }
    }.sorted.mkString("|")
  }

  private def held(k: Key): Option[Entry] = synchronized(slots.get(k))

  /** Serve `lookup` or run `build` under the key's latch; the latch is
    * dropped once the build settles, so the latch map stays bounded.
    */
  private def buildOnce[A](k: Key)(lookup: => Option[A])(build: => A): A =
    lookup.getOrElse {
      val latch = inFlight.computeIfAbsent(k, _ => new Object)
      try latch.synchronized {
        // a concurrent caller may have finished the build while we waited
        lookup.getOrElse {
          val a = build
          synchronized { builds(k._1) = builds.getOrElse(k._1, 0L) + 1L }
          a
        }
      } finally { inFlight.remove(k, latch); () }
    }

  private def release(e: Entry): Unit = e match {
    case Frame(owner, _, _, Left(rdd), _, _) =>
      if (!owner.sparkContext.isStopped) {
        try rdd.unpersist(blocking = false)
        catch { case _: Throwable => () }
      }
    case Frame(owner, _, _, Right(path), _, _) => deleteSpill(owner, path)
    case Stored(_, path) => LocalArtifacts.deleteOnExit(path)
    case _: Value => ()
  }

  /** Replace the entry at `k`, releasing the one it supersedes. */
  private def putLocked(k: Key, e: Entry): Unit = slots.put(k, e).foreach(release)

  /** The driver-side value for (kind, key), built once per snapshot of
    * `inputs`.
    */
  def value[V](s: SparkSession, kind: String, key: Any, inputs: Seq[String])(
      build: => V): V = {
    val k = (kind, key)
    val snap = snapshot(s, inputs)
    buildOnce(k)(held(k).collect { case Value(`snap`, v) => v.asInstanceOf[V] }) {
      val v = build
      synchronized(putLocked(k, Value(snap, v)))
      v
    }
  }

  /** The artifact directory for (kind, key), built by `build(dir)` into a
    * fresh temp directory once per snapshot of `inputs`.
    */
  def stored(s: SparkSession, kind: String, key: String, inputs: Seq[String])(
      build: String => Unit): String = {
    val k = (kind, key)
    val snap = snapshot(s, inputs)
    buildOnce(k)(held(k).collect { case Stored(`snap`, p) => p }) {
      val path = java.nio.file.Files.createTempDirectory(s"graft-$kind").toString
      try build(path)
      catch { case e: Throwable => LocalArtifacts.deleteOnExit(path); throw e }
      synchronized(putLocked(k, Stored(snap, path)))
      path
    }
  }

  /** The frame for (kind, dir), built by `build` once per owning session
    * and snapshot of `inputs`, then persisted, measured and admitted to a
    * tier (see the header).
    */
  def getOrBuild(s: SparkSession, kind: String, dir: String, inputs: Seq[String])(
      build: => DataFrame): DataFrame = {
    val k: Key = (kind, dir)
    val snap = snapshot(s, inputs)
    buildOnce(k)(held(k).collect {
      case f: Frame if (f.session eq s) && f.snapshot == snap && !s.sparkContext.isStopped =>
        f.df
    }) {
      synchronized { slots.remove(k).foreach(release) }
      val built = build
      val rdd = built.rdd
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.foreach(_ => ()) // materialize now so the size is measurable
      val bytes = s.sparkContext.getRDDStorageInfo
        .find(_.id == rdd.id).map(i => i.memSize + i.diskSize).getOrElse(0L)
      val df = s.createDataFrame(rdd, built.schema)
      val budget = maxBytes(s)
      synchronized {
        // latest size per key: a rebuild replaces, never adds
        val st = stateLocked(s)
        st.workingSet(k) = bytes
        val tot = st.workingSet.values.sum
        if (tot > budget && !st.budgetWarned) {
          st.budgetWarned = true
          System.err.println(
            s"[memo] WORKING SET $tot B has crossed the budget $budget B " +
              "— evictions (and re-builds or disk-tier scans) ahead; size " +
              "spark.graft.memo.maxBytes to at least the working set " +
              "(per-entry sizes are in the admission lines above)")
        }
      }
      val spillTo = if (bytes > budget) spillRoot(s) else None
      System.err.println(
        s"[memo] $kind: measured $bytes B vs budget $budget B -> " +
          (if (bytes <= budget) "memory tier"
           else if (spillTo.isDefined) "disk tier"
           else "drop (no shared spill root on a non-local master; set spark.graft.memo.diskRoot)"))
      if (bytes <= budget) {
        val victims = synchronized {
          putLocked(k, Frame(s, snap, df, Left(rdd), bytes, nextSeqLocked()))
          selectVictims(s, k)
        }
        // spills run off the admitting query's path; the victims are
        // already out of the table, so late completion is safe
        victims.foreach(enqueueDemotion)
        hookEviction(s)
        df
      } else spillTo match {
        case Some(root) =>
          // spill from the materialized blocks, then free them; the seq
          // keeps spill directories of different keys apart
          val seq = synchronized(nextSeqLocked())
          val path = s"$root/$kind-$seq"
          df.write.mode("overwrite").parquet(path)
          rdd.unpersist(blocking = false)
          val diskDf = s.read.parquet(path)
          synchronized(putLocked(k, Frame(s, snap, diskDf, Right(path), bytes, seq)))
          hookEviction(s)
          diskDf
        case None =>
          // held for this query's consumers only; drained after it
          CachedRdds.register(rdd)
          df
      }
    }
  }

  /** Drop every frame `owner` holds, plus the value and stored entries
    * of `kinds` (JVM-wide). Also cancels any demotion of `owner`'s frames
    * still in flight.
    */
  def evict(owner: SparkSession, kinds: String*): Unit = synchronized {
    stateLocked(owner).epoch += 1L
    val dead = slots.filter {
      case (_, f: Frame) => f.session eq owner
      case ((kind, _), _) => kinds.contains(kind)
    }
    dead.foreach { case (k, e) => release(e); slots.remove(k) }
  }

  private def nextSeqLocked(): Long = { seqCounter += 1L; seqCounter }

  /** Delete a spill directory through the Hadoop FS (the root may be
    * hdfs:// or s3a://), falling back to a local delete.
    */
  private def deleteSpill(owner: SparkSession, path: String): Unit =
    if (!owner.sparkContext.isStopped) {
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(owner.sparkContext.hadoopConfiguration).delete(p, true)
        ()
      } catch { case _: Throwable => LocalArtifacts.deleteRecursively(path) }
    } else LocalArtifacts.deleteRecursively(path)

  /** Per-JVM spill root for local masters, removed on JVM exit. */
  private lazy val diskRoot: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-memo-disk")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => LocalArtifacts.deleteRecursively(d.toString)))
    d
  }

  /** `spark.graft.memo.diskRoot` if set; else the per-JVM temp root on a
    * local master; else None (executors could not read a driver path).
    */
  private def spillRoot(s: SparkSession): Option[String] =
    s.conf.getOption("spark.graft.memo.diskRoot")
      .orElse(if (s.sparkContext.isLocal) Some(diskRoot.toString) else None)

  private final case class Demotion(key: Key, e: Frame, epoch: Long)

  private lazy val demotionPool = java.util.concurrent.Executors
    .newSingleThreadExecutor((r: Runnable) => {
      val t = new Thread(r, "graft-memo-demotion"); t.setDaemon(true); t
    })
  private val pendingDemotions = new java.util.concurrent.atomic.AtomicInteger(0)

  private def enqueueDemotion(d: Demotion): Unit = {
    pendingDemotions.incrementAndGet()
    demotionPool.execute(() =>
      try demoteOrDrop(d)
      catch { case scala.util.control.NonFatal(_) => () }
      finally { pendingDemotions.decrementAndGet(); () })
  }

  /** Test hook: block until every queued demotion completed. Bounded —
    * a wedged spill job on the single demotion thread must fail the
    * calling spec with a diagnostic, not hang it silently.
    */
  private[graft] def awaitDemotions(timeoutMs: Long = 120000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (pendingDemotions.get() > 0) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"awaitDemotions: ${pendingDemotions.get()} demotion(s) still " +
            s"pending after ${timeoutMs} ms — demotion thread wedged?")
      Thread.sleep(10)
    }
  }

  /** Oldest-first in-memory frames to remove until the in-memory total
    * fits the budget; `keep` (the frame just admitted) is never chosen.
    * Victims leave the table here, under the lock; the caller spills
    * them outside it.
    */
  private def selectVictims(s: SparkSession, keep: Key): Seq[Demotion] = {
    val inMemory = slots.toSeq.collect {
      case (k, f: Frame) if f.store.isLeft => (k, f)
    }
    var total = inMemory.map(_._2.bytes).sum
    val out = scala.collection.mutable.ArrayBuffer.empty[Demotion]
    val it = inMemory.filter(_._1 != keep).sortBy(_._2.seq).iterator
    while (total > maxBytes(s) && it.hasNext) {
      val (k, f) = it.next()
      slots.remove(k)
      out += Demotion(k, f, stateLocked(f.session).epoch)
      total -= f.bytes
    }
    out.toSeq
  }

  /** Move a victim to the disk tier, under its OWNING session (the
    * admitting session may be another tenant), or drop it when no spill
    * root exists. The result is not inserted when the slot was refilled
    * or the owner was evicted meanwhile.
    */
  private def demoteOrDrop(d: Demotion): Unit = {
    val Demotion(k, e, epochAtSelect) = d
    val owner = e.session
    (spillRoot(owner), e.store) match {
      case (Some(r), Left(rdd)) if !owner.sparkContext.isStopped =>
        val path = s"$r/${k._1}-evict-${e.seq}"
        try {
          // write BEFORE unpersist: the spill scans the persisted blocks,
          // not the upstream pipeline
          e.df.write.mode("overwrite").parquet(path)
          rdd.unpersist(blocking = false)
          val demoted = e.copy(df = owner.read.parquet(path), store = Right(path))
          val inserted = synchronized {
            if (slots.contains(k) || stateLocked(owner).epoch != epochAtSelect) false
            else { slots(k) = demoted; true }
          }
          if (inserted) {
            System.err.println(
              s"[memo] ${k._1}: memory-tier eviction -> DEMOTED to disk tier " +
                s"(${e.bytes} B spilled)")
          } else {
            release(demoted)
          }
        } catch {
          case scala.util.control.NonFatal(_) =>
            release(e)
            deleteSpill(owner, path)
            System.err.println(
              s"[memo] ${k._1}: memory-tier eviction -> dropped (spill failed)")
        }
      case _ =>
        release(e)
        System.err.println(
          s"[memo] ${k._1}: memory-tier eviction -> dropped " +
            "(no spill root; next access rebuilds)")
    }
  }

  /** Evict the session's frames when its context stops. */
  private def hookEviction(s: SparkSession): Unit = synchronized {
    val st = stateLocked(s)
    if (!st.evictionHooked) {
      st.evictionHooked = true
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          evict(s)
      })
    }
  }

  /** Test hook: the session's simultaneous working set (Σ latest
    * admitted size per key — rebuilds of a key replace, never add). */
  private[graft] def sessionWorkingSet(s: SparkSession): Long =
    synchronized(Option(sessions.get(s)).map(_.workingSet.values.sum).getOrElse(0L))

  /** Test hook: whether the under-provisioning warning fired for `s`. */
  private[graft] def budgetWarned(s: SparkSession): Boolean =
    synchronized(Option(sessions.get(s)).exists(_.budgetWarned))

  /** Test hook: whether any entry of this kind is currently held. */
  private[graft] def occupied(kind: String): Boolean =
    synchronized(slots.keys.exists(_._1 == kind))

  /** Test hook: how many times a build has run for this kind (JVM-wide). */
  private[graft] def buildCount(kind: String): Long =
    synchronized(builds.getOrElse(kind, 0L))

  /** Test hook: measured bytes of the held frame, if any. */
  private[graft] def heldBytes(kind: String): Option[Long] =
    synchronized(slots.collectFirst { case ((k, _), f: Frame) if k == kind => f.bytes })

  /** Test hook: the disk-tier spill path of the held frame, if any. */
  private[graft] def heldOnDisk(kind: String): Option[String] =
    synchronized(slots.collectFirst {
      case ((k, _), Frame(_, _, _, Right(path), _, _)) if k == kind => path
    })
}
