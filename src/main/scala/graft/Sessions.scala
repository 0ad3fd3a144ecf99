package graft

import org.apache.spark.sql.SparkSession

/** Sessions an operation owns. A conf that one operation needs lives
  * in a session that operation owns, never on the session its caller
  * handed in: saving, setting and restoring a shared session's conf
  * races every other query built on that session meanwhile, and
  * leaves the caller to repair what the race left behind.
  */
private[graft] object Sessions {

  /** A new session on `s`'s SparkContext with `s`'s runtime SQL confs
    * (graft's `spark.graft.*` switches included) plus `confs`, so the
    * operation sees what its caller set. It shares the context, its
    * cached data and listeners; its conf, temp views and streaming
    * queries are its own, and DataFrames of the two sessions join
    * freely.
    *
    * The streaming registry keys build their streams in
    * `own(s, "spark.sql.shuffle.partitions" -> "4")` and read the sink
    * back in `s`. A stateful streaming operator opens one state store
    * per shuffle partition per microbatch, so a batch-sized width pays
    * that many store open/commit cycles per stateful operator per
    * batch for state that is tiny. A stream takes its width from the
    * conf when its checkpoint is created (each registry run uses a
    * fresh one); in a deployment this is the width given to the
    * streaming job, sized to its state, not to batch work.
    */
  def own(s: SparkSession, confs: (String, String)*): SparkSession = {
    val owned = s.newSession()
    (s.conf.getAll.filter { case (k, _) =>
      s.conf.isModifiable(k) || k.startsWith("spark.graft.") } ++ confs)
      .foreach { case (k, v) => owned.conf.set(k, v) }
    owned
  }
}
