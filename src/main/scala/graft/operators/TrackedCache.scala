package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one home of session-scoped derived state: persisted frames and
  * memoized session artifacts (trained vocabularies, component labels,
  * pair lists).
  *
  * [[persist]] covers frames that fan out to several consumers inside
  * one logical query (shingle sets, token explodes, bucket series).
  * Without it every consumer re-executes the shared subplan from the
  * raw scan. Spark's CacheManager keys entries on the canonicalized
  * plan, so identical frames built by different queries resolve to ONE
  * materialization.
  *
  * [[getOrCompute]] covers artifacts the plan cache cannot share:
  * driver-collected results and frames over localCheckpoint or typed
  * closures, whose plans never compare equal across builds.
  *
  * The contract, for both:
  *  - Scope: the `SparkSession`. Entries are never shared across
  *    sessions.
  *  - Key: chosen by the caller — a site tag plus the canonicalized
  *    input plan and parameters, or the input directory. A key names
  *    its inputs by plan or path, not by content, so the artifact is
  *    valid until the corpus changes.
  *  - Eviction: [[release]] is the corpus boundary. It unpersists the
  *    session's frames and drops its artifacts. One listener per
  *    application drops every session's frames and artifacts when the
  *    application ends, so a session that is never released does not
  *    stay reachable for the JVM's lifetime.
  *  - Bound: at most [[ArtifactCap]] artifacts per session, evicted
  *    FIFO. An evicted DataFrame is unpersisted and leaves the
  *    persisted queue.
  *
  * Every artifact is result-invisible: release, then recompute, gives
  * identical rows. In-flight queries over released frames recompute
  * rather than fail.
  */
object TrackedCache {

  /** Artifacts kept per session before the oldest is evicted. A
    * parameter sweep that never releases stays bounded; an eviction
    * costs only a recompute.
    */
  val ArtifactCap = 16

  private final class SessionState {
    val persisted = new ConcurrentLinkedQueue[DataFrame]()
    val artifacts = new ConcurrentHashMap[Any, AnyRef]()
    val order = new ConcurrentLinkedQueue[Any]()
  }

  private val sessions = new ConcurrentHashMap[SparkSession, SessionState]()

  private val listening = ConcurrentHashMap.newKeySet[SparkContext]()

  private def state(spark: SparkSession): SessionState = {
    val sc = spark.sparkContext
    if (listening.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        sessions.keySet.removeIf(_.sparkContext eq sc)
        listening.remove(sc)
      }
    })
    sessions.computeIfAbsent(spark, _ => new SessionState)
  }

  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    state(df.sparkSession).persisted.add(p)
    p
  }

  /** The session's artifact under `key`, computing it on a miss.
    *
    * `compute` runs outside the map and its result is published with
    * `putIfAbsent`, so computes may nest (one artifact's compute may
    * fill another's entry). Two racing threads may both compute; the
    * first to publish wins and both return its value.
    */
  def getOrCompute[T <: AnyRef](spark: SparkSession, key: Any)(compute: => T): T = {
    val st = state(spark)
    val hit = st.artifacts.get(key)
    if (hit != null) return hit.asInstanceOf[T]
    val fresh = compute
    val raced = st.artifacts.putIfAbsent(key, fresh)
    if (raced != null) return raced.asInstanceOf[T]
    st.order.add(key)
    while (st.order.size > ArtifactCap) {
      val oldest = st.order.poll()
      if (oldest != null) st.artifacts.remove(oldest) match {
        case df: Dataset[_] =>
          df.unpersist()
          st.persisted.remove(df)
        case _ =>
      }
    }
    fresh
  }

  /** Unpersist every tracked frame for `spark` and drop its artifacts.
    * Duplicate registrations unpersist harmlessly.
    */
  def release(spark: SparkSession): Unit = {
    val st = sessions.remove(spark)
    if (st != null) st.persisted.forEach(_.unpersist())
  }
}
