package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities (SURVEY.md "optimize for scale"): two-stage
  * salted aggregation — when one group key dominates (a hot returnflag, a
  * celebrity user), a plain groupBy funnels the hot key into a single
  * reducer. Salting splits each key into `salts` sub-keys for the partial
  * stage, then combines partials in a second (tiny) aggregation. AQE's
  * skew-join handling covers joins; this covers aggregations whose
  * partial/final split Spark can't rebalance by itself when the combiner
  * state per key is large.
  */
object Skew {

  /** Two-stage salted sum/count aggregation:
    * stage 1 groups by (key, hash(saltCol) % salts) — hot keys fan out
    * across `salts` reducers; stage 2 groups the ≤ |keys|·salts partials
    * by key alone. Result is exactly groupBy(key).agg(sum, count). */
  def saltedSumCount(df: DataFrame, key: Column, saltSource: Column,
      value: Column, salts: Int): DataFrame =
    df.groupBy(key.as("k"), (abs(hash(saltSource)) % salts).as("salt"))
      .agg(sum(value).as("psum"), count("*").as("pcnt"))
      .groupBy("k")
      .agg(sum("psum").as("total"), sum("pcnt").as("cnt"))

  /** Salted shuffle JOIN — the join-side twin of [[saltedSumCount]] for
    * when AQE's skew-split can't help (its partition splitting handles
    * size skew of the PROBE side, but a hot key whose matching build
    * rows must co-locate still funnels into one task when the build side
    * can't broadcast): every probe row takes a salt from a per-row
    * source (so a hot key's rows spread across `salts` shuffle
    * partitions), the build side replicates `salts` ways, and the join
    * keys become (key, salt). Result is EXACTLY the plain equi-join —
    * replication costs `salts`× the (smaller) build side, bounded and
    * chosen, instead of an unbounded hot-task straggler. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      saltSource: Column, salts: Int): DataFrame = {
    val saltedProbe = probe
      .withColumn("__salt", (abs(hash(saltSource)) % salts).cast("int"))
    val replicatedBuild = build
      .withColumn("__salt",
        explode(array((0 until salts).map(lit(_)): _*)))
    saltedProbe.join(replicatedBuild, Seq(key, "__salt")).drop("__salt")
  }

  /** Plain per-user sessionization — q29's lag/cumsum shape factored to
    * one definition (the ground truth [[chunkedSessionize]] and
    * [[hybridChunkedSessionize]] must equal): flag gap-starts with lag()
    * over one user-keyed window, running-sum the flags into session ids,
    * aggregate. ONE shuffle on user_id; the hot-user hazard is that the
    * whole timeline of a user runs through one window task — which is
    * exactly what the chunked/hybrid forms mitigate. */
  def sessionize(events: DataFrame, gapSec: Long): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val run = byUser.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    events
      .withColumn("sec", col("ts").cast("long"))
      .withColumn("new_session",
        when(lag(col("sec"), 1).over(byUser).isNull, 1)
          .when(col("sec") - lag(col("sec"), 1).over(byUser) > gapSec, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_session").over(run))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("sec").as("session_start"),
        max("sec").as("session_end"),
        round(sum("value"), 2).as("session_value"))
  }

  /** CHUNKED (time-salted) SESSIONIZATION — the skew mitigation for the
    * one shape random salting cannot touch: sessionization's lag/cumsum
    * window is ORDER-DEPENDENT per user, so a hot user (a bot account
    * with 10^8 events in a 100 TB log) funnels its whole timeline into
    * one window task and [[saltedSumCount]]'s hash salt would sever the
    * consecutive-event pairs the gap test needs. The only salt that
    * preserves the order dependency is a TIME RANGE: partition each
    * user's timeline into fixed chunks (`chunkSec`), sessionize every
    * (user, chunk) independently — the heavy per-event lag/cumsum now
    * spreads across users × chunks tasks — then run the SAME
    * sessionization once more over the per-chunk session summaries
    * (start, end, partial aggregates): a session crossing a chunk
    * boundary appears as a trailing summary in chunk i and a leading
    * summary in chunk i+1 whose gap is ≤ the threshold, and the
    * level-2 cumsum merges the run. Level 2 is still per-user ordered,
    * but over ~sessions-per-user rows, not events-per-user — bounded
    * driver-of-skew reduced by the chunk factor.
    *
    * Equivalence (q124's oracle is the PLAIN q29 SQL): chunk assignment
    * is monotone in ts, so (chunk, ts, event_id) order = global
    * (ts, event_id) order; within a chunk the gap test is untouched;
    * at a boundary, level 2 compares chunk i+1's first-session start
    * against chunk i's last-session end — exactly the consecutive-event
    * gap q29 tests (session start/end ARE those events' truncated
    * seconds); two same-chunk sessions are > gap apart by level-1
    * construction, so level 2 never falsely merges them. Aggregates
    * compose: count/min/max/sum all re-aggregate losslessly.
    *
    * Takes the events-table shape (user_id, ts, event_id, value);
    * emits q29's exact output schema. */
  def chunkedSessionize(events: DataFrame, gapSec: Long,
      chunkSec: Long): DataFrame = {
    val byChunk = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    val runChunk = byChunk.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    // level 1: per-(user, chunk) sessionization — q29's lag/cumsum shape
    // keyed on the chunk too, so a hot user's events spread over
    // (timeline / chunkSec) parallel window tasks
    val chunkSessions = events
      .withColumn("sec", col("ts").cast("long"))
      .withColumn("chunk", expr(s"CAST(ts AS LONG) div $chunkSec"))
      .withColumn("new_s",
        when(lag(col("sec"), 1).over(byChunk).isNull, 1)
          .when(col("sec") - lag(col("sec"), 1).over(byChunk) > gapSec, 1)
          .otherwise(0))
      .withColumn("ls", sum("new_s").over(runChunk))
      .groupBy("user_id", "chunk", "ls")
      .agg(count(lit(1)).as("pn"), min("sec").as("start_s"),
        max("sec").as("end_s"), sum("value").as("pv"))
    // level 2: sessionize the chunk-session summaries per user — same
    // gap test between a summary's start and the previous summary's end
    // (ends are monotone: the summaries are disjoint ordered intervals)
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("start_s", "chunk")
    val runUser = byUser.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    chunkSessions
      .withColumn("new_s2",
        when(lag(col("end_s"), 1).over(byUser).isNull, 1)
          .when(col("start_s") - lag(col("end_s"), 1).over(byUser) > gapSec, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_s2").over(runUser))
      .groupBy("user_id", "session_id")
      .agg(sum("pn").as("n_events"), min("start_s").as("session_start"),
        max("end_s").as("session_end"),
        round(sum("pv"), 2).as("session_value"))
  }

  /** HYBRID chunked sessionization — [[hybridSaltedJoin]]'s discipline
    * applied to [[chunkedSessionize]]: on uniform data the chunked form
    * pays two window passes where one suffices (measured ~2× q29's time
    * at sf0.1), so only ACTUALLY-HOT users should pay it. A per-user
    * count histogram (one map-side-combinable aggregation) picks the hot
    * users (> hotThreshold events); their rows take the chunked path,
    * everyone else takes the plain single-window sessionization, and the
    * union is EXACTLY [[sessionize]] (session numbering is per-user, so
    * the split is result-invisible — the q49/q83/q86 contract).
    *
    * The hot list broadcasts into both semi/anti joins without an extra
    * shuffle, and its size is bounded STRUCTURALLY, not just by the
    * caller picking a good threshold: the histogram is capped at the
    * `maxHotKeys` HOTTEST users (global top-N — TakeOrderedAndProject,
    * so the driver holds at most maxHotKeys ids). A caller-supplied
    * threshold near the mean would otherwise admit up to every distinct
    * user (|events|/mean = |users|), turning the "bounded broadcast"
    * into an unbounded one at 100 TB; with the cap, a user past the
    * top-N simply takes the cold path — result-identical either way,
    * since ANY split of users between the two paths is. Ties at the
    * cap boundary break on user_id so the selection is deterministic. */
  def hybridChunkedSessionize(events: DataFrame, gapSec: Long,
      chunkSec: Long, hotThreshold: Long,
      maxHotKeys: Int = 1 << 20): DataFrame = {
    val hot = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotThreshold)
      .orderBy(col("__n").desc, col("user_id"))
      .limit(maxHotKeys)
      .select(col("user_id"))
    val hotEvents = events.join(broadcast(hot), Seq("user_id"), "left_semi")
    val coldEvents = events.join(broadcast(hot), Seq("user_id"), "left_anti")
    chunkedSessionize(hotEvents, gapSec, chunkSec)
      .unionByName(sessionize(coldEvents, gapSec))
  }

  /** HYBRID hot-key salted join — the production refinement of
    * [[saltedJoin]], whose whole-build replication is `salts`× the
    * ENTIRE build side: at 100 TB with a large build table that is a new
    * bottleneck, not a mitigation. Here the probe side's key histogram
    * (one map-side-combinable count aggregation) decides which keys are
    * actually hot (count > `hotThreshold`); ONLY those go through the
    * salted path — replicating just the hot slice of the build side,
    * ≤ |probe|/hotThreshold keys by construction, broadcast-small — and
    * every other row takes the plain equi-join Spark would have planned
    * anyway. Build replication becomes `salts` × (hot-key build rows)
    * instead of `salts` × |build|; the result is EXACTLY the plain join
    * (the two probe slices partition the probe rows, and each joins the
    * full set of its keys' build rows). */
  def hybridSaltedJoin(probe: DataFrame, build: DataFrame, key: String,
      saltSource: Column, salts: Int, hotThreshold: Long,
      maxHotKeys: Int = 1 << 20): DataFrame = {
    val hot = probe.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotThreshold)
      .orderBy(col("__n").desc, col(key))
      .limit(maxHotKeys)
      .select(col(key))
    // the hot list broadcasts to split both sides without an extra
    // shuffle; the top-N cap (not just the threshold) bounds it — see
    // hybridChunkedSessionize's Scaladoc for why a threshold alone is
    // not a bound. Keys past the cap fall to the plain path, which is
    // result-identical for any split
    val hotProbe = probe.join(broadcast(hot), Seq(key), "left_semi")
    val coldProbe = probe.join(broadcast(hot), Seq(key), "left_anti")
    val hotBuild = build.join(broadcast(hot), Seq(key), "left_semi")
    saltedJoin(hotProbe, hotBuild, key, saltSource, salts)
      .unionByName(coldProbe.join(build, Seq(key)))
  }
}
