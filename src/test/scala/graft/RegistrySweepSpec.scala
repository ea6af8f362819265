package graft

import graft.util.BuildCounters
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The one Tier-1 pass over the whole registry: each entry is built
  * ONCE at sf0.001 (a streaming entry runs its drive in that build) and
  * run through [[Drive.run]] as Bench runs it: fully materialised, not
  * `count()`ed, with cached blocks released after it. An entry that
  * throws is recorded and the pass carries on; the tests are checks
  * over its records. */
class RegistrySweepSpec extends SparkSpec {

  /** What the pass saw of one entry. `schema` is None when the build
    * threw; `run` holds the rows, what threw and whether the
    * SparkContext stopped. */
  private case class Record(q: GraftQuery, run: Drive.Result,
      schema: Option[StructType], problems: Seq[String],
      collected: Seq[Row]) {
    def faults: Seq[String] = run.problem.toSeq
  }

  /** Re-run at another shuffle partition count, these must return the
    * same rows: unique-key ORDER BY and Exact decimal aggregation make
    * results independent of parallelism (Registry scaladoc). The sample
    * covers joins (hash, as-of, range, substring pair, bigram count,
    * trailing-distinct), windows (CDC over a union, bounded frames,
    * gap-fill, EMA fold, layered sessions), series, dedup, mixes and
    * sampling, BM25 ranking, BFS and PageRank loops, the sweep-line
    * prefix sum, a full-outer diff, CUBE, histogram fences and
    * embedding centroids. Its rows are kept via `collect()`. */
  private val partitionSample = Set("q3_shipping_priority",
    "t04_endpoint_latencies", "t10_trace_counts", "v1_dedup_exact",
    "v8_per_source_cap", "v14_sample_mix", "v15_token_packing",
    "w1_asof_join", "w2_range_join", "v4g_term_scores", "w3_merge_upsert",
    "v19_bm25_search", "v22_substring_dup", "u5_critical_path",
    "v29_pagerank", "w8_max_concurrency", "v31_snapshot_diff",
    "v27_rare_bigrams", "v34_importance_sample", "v35_drift", "w11_trend",
    "w12_gap_fill", "w13_cube", "v40_token_budget",
    "v41_dedup_weighted_sample", "v42_vocab_growth", "v36b_mad_histogram",
    "w14_ema", "v39_embedding_drift", "v43_cross_source_dup",
    "u7_attribution", "w15_stickiness", "w16_weekday_profile",
    "v44_oov_rate")

  /** The pass. Each entry asks [[SparkSpec.session]] for the session,
    * so an entry that stops the SparkContext is named in its record and
    * the next entry runs on a rebuilt one. Prints the pass's construct
    * and execute wall totals, its JVM CPU total and its slowest builds. */
  private lazy val records: Seq[Record] = {
    val recs = SparkEntry.all.map { q =>
      var schema = Option.empty[StructType]
      var problems = Seq.empty[String]
      var collected = Seq.empty[Row]
      def build(s: SparkSession): DataFrame = {
        val df = q.run(s, sf0001)
        schema = Some(df.schema)
        problems = sweepProblems(q.id, df)
        df
      }
      val s = SparkSpec.session(suiteName)
      val run =
        if (partitionSample(q.id)) Drive.run(s, build, { df =>
          collected = df.collect().toSeq
          collected.length.toLong
        })
        else Drive.run(s, build)
      Record(q, run, schema, problems, collected)
    }
    def sec(ns: Long) = f"${ns / 1e9}%.1f s"
    println(s"RegistrySweepSpec pass: construct " +
      s"${sec(recs.map(_.run.constructNs).sum)}, execute " +
      s"${sec(recs.map(_.run.executeNs).sum)}, cpu " +
      s"${sec(recs.map(_.run.cpuNs).sum)}; slowest builds: " +
      recs.sortBy(-_.run.constructNs).take(5)
        .map(r => s"${r.q.id} ${sec(r.run.constructNs)}").mkString(", "))
    recs
  }

  private def failed(r: Record): String =
    s"${r.q.id}: ${r.faults.mkString("; ")}"

  /** One line per entry whose schema fails `check`. An entry whose
    * build threw has no schema and fails every schema check. */
  private def schemaProblems(check: StructType => Boolean): Seq[String] =
    records.flatMap(r => r.schema match {
      case None => Some(failed(r))
      case Some(st) if !check(st) => Some(s"${r.q.id}: ${st.simpleString}")
      case _ => None
    })

  private def assertNone(problems: Seq[String]): Unit =
    assert(problems.isEmpty, problems.distinct.mkString("\n"))

  test("every registered query runs on sf0.001 and is deterministic-shaped") {
    assertNone(records.filter(_.faults.nonEmpty).map(failed) ++
      schemaProblems(st => st.fieldNames.distinct.length == st.length))
  }

  test("no output column is a timestamp (epoch longs only - type drift)") {
    assertNone(schemaProblems(!_.fields.exists(f =>
      f.dataType.isInstanceOf[TimestampType] ||
        f.dataType.isInstanceOf[TimestampNTZType] ||
        f.dataType.isInstanceOf[DateType])))
  }

  test("no output column is a decimal (cast to double before emitting)") {
    assertNone(schemaProblems(
      !_.fields.exists(_.dataType.isInstanceOf[DecimalType])))
  }

  test("column names are lowercase, unique, and oracle-friendly") {
    assertNone(schemaProblems(st =>
      st.fieldNames.distinct.length == st.length &&
        st.fieldNames.forall(_.matches("[a-z][a-z0-9_]*"))))
  }

  test("every oracle-declared query yields rows at sf0.001") {
    assertNone(records.filter(r => r.q.oracle.isDefined &&
      !r.run.rows.exists(_ > 0)).map(r => s"${failed(r)}, rows ${r.run.rows}"))
  }

  /** The generic anti-pattern detector behind the GLOBAL SWEEP test:
    * flags (a) joins with no equality predicate between their sides
    * (nested-loop at execution) where NEITHER side is bounded, and
    * (b) windows partitioned only by constants over raw (un-aggregated)
    * rows. "Bounded" = every path from the node to a leaf crosses an
    * Aggregate / Range / LocalRelation / Limit — frames whose
    * cardinality is fixed by construction (histograms, calendar grids,
    * fence tables, top-k), not by the data volume — or the side carries
    * an EXPLICIT broadcast() hint (the author's reviewed claim of
    * smallness: the 1-row query vectors, corpus totals and centroid
    * tables each carry their own per-query pin in PlanSpec; an
    * un-hinted unbounded nested loop is always a bug). */
  private def sweepProblems(id: String, df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical._
    def rawBelow(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case _: Range => false
      case _: LocalRelation | _: OneRowRelation => false
      case _: GlobalLimit | _: LocalLimit => false
      case n if n.children.isEmpty => true
      case n => n.children.exists(rawBelow)
    }
    def broadcastHinted(h: Option[HintInfo]): Boolean =
      h.exists(_.strategy.contains(BROADCAST))
    val lp = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan
    val badJoins = lp.collect {
      case j: Join
          if !j.condition.exists(_.collectFirst {
            case _: EqualTo | _: EqualNullSafe => ()
          }.isDefined) && rawBelow(j.left) && rawBelow(j.right) &&
            !broadcastHinted(j.hint.leftHint) &&
            !broadcastHinted(j.hint.rightHint) =>
        s"$id: nested-loop-shaped ${j.joinType} join, both sides unbounded"
    }
    val badWindows = lp.collect {
      case w: Window
          if w.partitionSpec.forall(_.foldable) && rawBelow(w.child) =>
        s"$id: constant-partitioned window over raw rows"
    }
    badJoins ++ badWindows
  }

  test("GLOBAL SWEEP: no registry entry plans a nested-loop join over " +
    "unbounded inputs or a constant-partitioned window over raw rows") {
    // The generic backstop behind PlanSpec's per-query pins: the next
    // w15-class BETWEEN-join BNLJ or lit(1)-window over a raw scan is
    // caught the day it is registered.
    assertNone(records.flatMap(r =>
      if (r.schema.isEmpty) Seq(failed(r)) else r.problems))
  }

  test("the sweep detector actually trips on the bug classes it guards") {
    // a detector that never fires proves nothing: feed it the w15-class
    // BETWEEN self-join and a lit(1)-window over a raw scan and require
    // BOTH to be flagged
    import org.apache.spark.sql.expressions.{Window => WSpec}
    import org.apache.spark.sql.functions.{col, lit, row_number}
    val ev = Tables.events(spark, sf0001)
    val bnlj = ev.select(col("user_id").as("u"), col("ts_s").as("a"))
      .join(ev.select(col("ts_s").as("b")),
        col("b") >= col("a") && col("b") < col("a") + 3600L)
    assert(sweepProblems("bad_join", bnlj)
      .exists(_.contains("nested-loop")), "BETWEEN self-join not flagged")
    val constWin = ev.withColumn("rn",
      row_number().over(WSpec.partitionBy(lit(1)).orderBy(col("ts_s"))))
    assert(sweepProblems("bad_window", constWin)
      .exists(_.contains("constant-partitioned")),
      "lit(1) window over raw rows not flagged")
  }

  /** The second arm re-runs the sample in `newSession()` at a different
    * shuffle partition count. Session-keyed memos (PlanMemo, IVF builds,
    * scrub broadcasts) therefore rebuild under the second count instead
    * of handing the first arm's stored result back — t04 reads a
    * PlanMemo parquet, so a same-session re-run compared a file with
    * itself. Process-scoped artifacts (ArtifactCache, the Memo.once
    * dumps) are still shared between the arms.
    * The shared session's conf is left untouched. */
  test("registry results are shuffle-partition-count independent") {
    val first = records.filter(r => partitionSample(r.q.id))
    assert(first.map(_.q.id).toSet == partitionSample)
    val key = "spark.sql.shuffle.partitions"
    val base = SparkSpec.session(suiteName)
    val other = base.newSession()
    other.conf.set(key, if (base.conf.get(key) == "5") "32" else "5")
    val before = BuildCounters.snapshot
    val differing = first.flatMap { r =>
      var got = Seq.empty[Row]
      val again = Drive.run(other, r.q.run(_, sf0001), { df =>
        got = df.collect().toSeq
        got.length.toLong
      })
      val faults = r.faults ++ again.problem.map("second arm: " + _)
      if (faults.nonEmpty || got != r.collected)
        Some(s"${r.q.id}: results differ${faults.map("; " + _).mkString}")
      else None
    }
    assertNone(differing)
    val rebuilt = BuildCounters.snapshot.collect {
      case (k, n) if n > before.getOrElse(k, 0) => k }.toSet
    assert(rebuilt.contains(s"memo:t04_exact:$sf0001"), rebuilt)
  }
}

