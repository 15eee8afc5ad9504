import org.apache.spark.sql.SparkSession

package object graft {

  /** Run `body` with the session conf keys `kvs` set, then restore each
    * key's prior value, or unset a key that had none. Restores run in
    * reverse order, so a key listed twice ends at its first prior
    * value. The override is session-global for the body's duration:
    * it is safe only while one thread at a time uses the session. */
  private[graft] def withConf[A](s: SparkSession, kvs: (String, String)*)(
      body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prior.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
