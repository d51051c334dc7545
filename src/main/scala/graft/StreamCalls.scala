package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Starting the streams that queries drain within one call. */
object StreamCalls {
  private val Isolation = "spark.sql.artifact.isolation.enabled"

  /** Runs `start` with artifact isolation off while Spark clones `s` for
    * the stream, then restores the caller's value. Spark 4.1 keys its
    * codegen cache by (classloader, code), and an isolated clone gets a
    * classloader of its own, so every call would recompile the same
    * whole-stage classes. Calls are serialized so each restores the value
    * it found.
    */
  def start(s: SparkSession)(start: => StreamingQuery): StreamingQuery =
    synchronized {
      val caller = s.conf.getAll.get(Isolation) // explicit value only
      s.conf.set(Isolation, false)
      try start
      finally caller.fold(s.conf.unset(Isolation))(s.conf.set(Isolation, _))
    }
}
