package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: `local[cores]`, UTC, no UI,
  * and the graft extension installed (the queries call its native
  * functions directly, so a session without it cannot run them).
  *
  * Shuffle partitioning is sized to the DATA, not the thread count: at
  * bench scale (sf0.1) the largest shuffle moves a few MB, so the
  * production ~128 MB/partition rule puts partitions in the single
  * digits and every extra partition is pure task-scheduling floor.
  * A/B at sf0.1/local[32]: 8 parts beat 32 on BOTH the light-query
  * floor (-30 ms/query) and the heavy kernels (q54 2.2→1.8 s, q70
  * 2.2→1.7 s, q80 1.9→1.7 s); full suite 48.1→42.5 s. At real scale
  * the count grows with shuffle bytes (SCALE.md) — a caller that needs
  * another count sets `spark.sql.shuffle.partitions` on the built
  * session. */
object GraftSession {

  /** Core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", math.min(cores, 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
}
