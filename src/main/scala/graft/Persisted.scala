package graft

import org.apache.spark.sql.DataFrame
import scala.util.DynamicVariable

/** Owner of the caches an operator persists but cannot release itself: the
  * frame it returns still reads them lazily, so only whoever materialises
  * that frame knows when they are done. The materialiser opens a [[scope]]
  * around its writes; every frame persisted through [[persist]] while the
  * scope is open, on its own thread or on a thread started inside it, is
  * unpersisted when the scope exits, normally or by an exception.
  *
  * Outside any scope, [[persist]] is a plain `persist()`: library callers
  * keep the frame's cache until they release it or the session ends. */
object Persisted {
  private final class Scope {
    private var frames = List.empty[DataFrame]
    private var open = true
    def add(df: DataFrame): Unit = synchronized { if (open) frames ::= df }
    /** Closes the scope; a late persist from a thread that outlived it is
      * then left alone, as outside any scope. Newest frame first. */
    def close(): List[DataFrame] = synchronized {
      open = false
      val fs = frames
      frames = Nil
      fs
    }
  }

  // a DynamicVariable is inheritable: threads started inside a scope see it
  private val current = new DynamicVariable[Scope](null)

  /** Persist `df` and hand its release to the innermost open scope. */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    Option(current.value).foreach(_.add(df))
    df
  }

  /** Run `body`, then unpersist every frame persisted in it. A nested scope
    * releases only its own frames. Dependents are released before the
    * frames they read. */
  def scope[T](body: => T): T = {
    val s = new Scope
    try current.withValue(s)(body)
    finally s.close().foreach(_.unpersist(blocking = false))
  }
}
