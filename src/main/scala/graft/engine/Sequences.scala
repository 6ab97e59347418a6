package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** DuckDB sequences (r7 session 3): CREATE [OR REPLACE] SEQUENCE
  * [IF NOT EXISTS] name [START [WITH] n] [INCREMENT [BY] n], nextval,
  * currval, DROP SEQUENCE (probe-pinned on 1.0: first nextval returns
  * START; currval is the last value handed out and errors before any
  * nextval; duplicate CREATE without OR REPLACE/IF NOT EXISTS errors).
  *
  * State is JVM-global, not per-session like `Engine`'s `SessionState`:
  * `nextval` runs in generated code, which has no session to look up
  * (the reference is a single-node DuckDB, one process).
  * On a multi-executor cluster nextval still yields UNIQUE values only if
  * evaluated on the driver; for distributed id assignment the engine's
  * guidance is monotonically_increasing_id / row_number, not sequences —
  * the same caveat DuckDB's docs give for parallel inserts. Value SETS are
  * deterministic; the row→value mapping follows evaluation order (also
  * true in DuckDB under parallel scans).
  */
object Sequences {
  private case class Seq0(counter: AtomicLong, increment: Long) {
    @volatile var last: Option[Long] = None
  }
  private val seqs = new ConcurrentHashMap[String, Seq0]()

  def create(name: String, start: Long, increment: Long,
      orReplace: Boolean, ifNotExists: Boolean): Unit = {
    val key = name.toLowerCase
    if (seqs.containsKey(key) && !orReplace) {
      if (ifNotExists) return
      throw new IllegalStateException(
        s"""Sequence with name "$name" already exists!""")
    }
    seqs.put(key, Seq0(new AtomicLong(start), increment))
  }

  def drop(name: String, ifExists: Boolean): Unit = {
    val removed = seqs.remove(name.toLowerCase)
    if (removed == null && !ifExists)
      throw new IllegalStateException(
        s"Sequence with name $name does not exist!")
  }

  def next(name: String): Long = {
    val s = seqs.get(name.toLowerCase)
    if (s == null) throw new IllegalStateException(
      s"Sequence with name $name does not exist!")
    val v = s.counter.getAndAdd(s.increment)
    s.last = Some(v)
    v
  }

  def curr(name: String): Long = {
    val s = seqs.get(name.toLowerCase)
    if (s == null) throw new IllegalStateException(
      s"Sequence with name $name does not exist!")
    s.last.getOrElse(throw new IllegalStateException(
      s"currval: sequence $name has not been used in this session"))
  }
}
