package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of every entry point (Bench, Verify,
  * JobProfile, Explain, ExtCheck, Rehearsal) and of the test session:
  * `local[cpus]` with `cpus` shuffle partitions, UTC session time, no
  * UI, and the fork-free `file://` binding of [[SessionFs.configure]].
  * `conf` adds an entry point's own settings. The graft extensions are
  * not installed here: `FoldSelfCosine` and the IVF top-k rewrite
  * would change oracle-gated plans, so only ExtCheck opts in, through
  * `spark.sql.extensions` in `conf`. */
object Sessions {
  def local(cpus: Int, conf: (String, String)*): SparkSession =
    SessionFs.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf.toMap)
      .getOrCreate()
}
