package graft

import org.apache.spark.sql.SparkSession

/** The one place graft makes Spark sessions: local roots for the mains and
  * specs ([[builder]]), and warmed child sessions that differ from their
  * parent in a few SQL settings ([[child]]). */
private[graft] object Sessions {

  /** Local session over `cpus` cores with the settings every graft session
    * shares: one shuffle partition per core, UTC, AQE on, TIMESTAMP(NANOS)
    * parquet read as long ([[Tables.NanosAsLong]]), no UI. Callers add only
    * what differs (app name, checkpoint manager). */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(Tables.NanosAsLong, "true")
      .config("spark.ui.enabled", "false")

  private val children = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, Map[String, String]), SparkSession]

  /** Cached child of `parent` whose runtime SQL conf is the parent's current
    * one with `overrides` on top. One warmed child per (parent, overrides):
    * a new session is ~2 ms, but its first query pays ~270 ms of lazy
    * analyzer and catalog init, and callers ask for a child per run. The
    * overrides are set before the warm-up query, so it compiles nothing a
    * no-codegen child must not. Each call brings the child up to the
    * parent's conf as it is now: it sets what differs and unsets what the
    * parent no longer sets. So a call changes the child's conf only when
    * the parent's conf changed since the last call. */
  def child(parent: SparkSession, overrides: Map[String, String]): SparkSession = {
    // a new session already has the shared SparkConf, so only what the
    // parent set or unset at runtime differs
    def follow(c: SparkSession): SparkSession = {
      val want = parent.conf.getAll ++ overrides
      val have = c.conf.getAll
      (have.keySet -- want.keySet).foreach(c.conf.unset)
      want.foreach { case (k, v) => if (!have.get(k).contains(v)) c.conf.set(k, v) }
      c
    }
    follow(children.getOrElseUpdate((parent, overrides), {
      val c = follow(parent.newSession())
      c.sql("SELECT 1").collect()
      c
    }))
  }
}
