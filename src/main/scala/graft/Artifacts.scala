package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one owner of what the engine memoizes or stages for a
  * SparkContext — the reference coordinator's `Cleanup()` role.
  *
  * Each memo is a [[Memo]] declared next to the code it serves; its
  * entries live per context. Staged directories ([[Dirs]]) are created
  * under one root per context, `<java.io.tmpdir>/graft-<n>`, which is
  * deleted when the context stops and, for a context still running, at
  * JVM exit.
  *
  * Eviction only forgets. An evicted dir stays on disk until its root
  * goes, because a lazily built DataFrame may still scan it; an evicted
  * broadcast is unpersisted, not destroyed, because a plan built before
  * the eviction may still run and re-fetches it from the driver.
  * Builders run inside their own memo's `computeIfAbsent`, so a builder
  * may use any other memo but never its own. */
object Artifacts {

  /** A memo of `V` by `K`. A miss with `cap` entries present forgets
    * them all first (a hit never evicts, so a full memo does not turn
    * into recompute thrash), handing each to `release`. */
  class Memo[K, V <: AnyRef](cap: Int = Int.MaxValue, release: V => Unit = (_: V) => ()) {
    def apply(s: SparkSession, key: K)(build: => V): V = {
      val m = entries(s.sparkContext)
      if (m.size >= cap && !m.containsKey(key)) forget(m)
      m.computeIfAbsent(key, _ => build)
    }

    def get(s: SparkSession, key: K): Option[V] = Option(entries(s.sparkContext).get(key))

    /** Forget every entry, in every live context. */
    def forget(): Unit = live.values.forEach(st =>
      Option(st.memos.get(this)).foreach(m => forget(m.asInstanceOf[ConcurrentHashMap[K, V]])))

    private def forget(m: ConcurrentHashMap[K, V]): Unit =
      m.keySet.forEach(k => Option(m.remove(k)).foreach(release))

    private def entries(sc: SparkContext): ConcurrentHashMap[K, V] =
      store(sc).memos.computeIfAbsent(this, _ => new ConcurrentHashMap[Any, AnyRef])
        .asInstanceOf[ConcurrentHashMap[K, V]]
  }

  /** A memo of broadcasts; eviction unpersists. */
  def broadcasts[K, T](cap: Int): Memo[K, Broadcast[T]] =
    new Memo[K, Broadcast[T]](cap, _.unpersist())

  /** A memo of staged directories: a miss hands `build` a fresh empty
    * dir `<root>/<name>-<n>` and the memo keeps its path. */
  final class Dirs[K](name: String) extends Memo[K, String] {
    def stage(s: SparkSession, key: K)(build: String => Unit): String =
      apply(s, key) {
        val out = store(s.sparkContext).newDir(name)
        build(out)
        out
      }
  }

  /** The context's artifact root. */
  private[graft] def root(s: SparkSession): Path = store(s.sparkContext).root

  private final class Store {
    val memos = new ConcurrentHashMap[Memo[_, _], ConcurrentHashMap[Any, AnyRef]]
    val root: Path = Files.createTempDirectory("graft-")
    private val seq = new AtomicInteger

    def newDir(name: String): String =
      Files.createDirectory(root.resolve(s"$name-${seq.incrementAndGet()}")).toString

    def delete(): Unit = org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile)
  }

  private val live = new ConcurrentHashMap[SparkContext, Store]

  sys.addShutdownHook(live.values.forEach(_.delete()))

  private def store(sc: SparkContext): Store =
    live.computeIfAbsent(sc, _ => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          Option(live.remove(sc)).foreach(_.delete())
      })
      new Store
    })
}
