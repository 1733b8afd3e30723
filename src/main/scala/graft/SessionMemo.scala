package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Values a session derives once and reuses across its own queries:
  * resolved parquet relations ([[Tables.load]]), the near-dup miners'
  * census readings and the FIFO of staging tables they persisted
  * ([[graft.operators.Dedupe]]). Entries belong to one
  * session, so no session reads another's; the entries of a session
  * whose SparkContext has stopped are dropped on the next access, so
  * nothing outlives its session. `live` is a parameter only so the
  * eviction can be exercised without stopping a real context.
  */
private[graft] class SessionMemo[S <: AnyRef](live: S => Boolean) {
  private val bySession = TrieMap.empty[S, TrieMap[Any, Any]]

  def getOrElseUpdate[V](session: S, key: Any)(value: => V): V = {
    bySession.keys.foreach(s => if (!live(s)) bySession.remove(s))
    bySession.getOrElseUpdate(session, TrieMap.empty)
      .getOrElseUpdate(key, value).asInstanceOf[V]
  }

  /** Sessions that currently hold entries. */
  def sessions: Int = bySession.size
}

private[graft] object SessionMemo
    extends SessionMemo[SparkSession](s => !s.sparkContext.isStopped)
