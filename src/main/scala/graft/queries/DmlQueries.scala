package graft.queries

import org.apache.spark.sql.functions._
import graft.dml.{IncrementalJoinRollup, IncrementalRollup, VersionedTable}

/** DML + incremental-maintenance as ORACLE-CHECKED queries: each entry
  * builds a scratch VersionedTable from the immutable testdata, drives
  * a deterministic transaction mix through the engine's DML/CDC path,
  * and returns state DuckDB re-derives from first principles over the
  * SAME parquet — a hash match certifies insert/delete/update/merge
  * semantics AND (for the rollup) that CDC-incremental == from-scratch.
  * (Previously this family was ScalaTest-only: DmlSpec.) */
object DmlQueries {
  import Q._

  val queries: Map[String, QFn] = Map(
    // CoW DML mix + incremental rollup maintenance. The view refreshes
    // from version deltas after EVERY transaction; the oracle computes
    // the final rollup directly — equality proves the deltas composed.
    "q_rollup_incremental" -> ((s, dir) => Q.withScratch(s, "graft_rollup_q") { rootP =>
      val root = rootP.toString
      val base = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 4 === 1) // deterministic quarter —
        // same DML/CDC semantics, a quarter of the CoW rewrite volume
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"))
      val vt = VersionedTable.create(s, s"$root/table", base)
      val view = IncrementalRollup.create(vt, s"$root/view",
        Seq("l_returnflag"), Seq("l_quantity"))
      vt.insert(base.where(col("l_orderkey") % 7 === 0)
        .withColumn("l_quantity", col("l_quantity") + 1))
      view.refresh()
      vt.delete(col("l_orderkey") % 5 === 0)
      view.refresh()
      vt.update(col("l_orderkey") % 3 === 1,
        Map("l_quantity" -> (col("l_quantity") * 2)))
      view.refresh()
      view.read()
        .select(col("l_returnflag"), col("_cnt").as("n"),
          col("_sum_l_quantity").cast("double").as("sum_qty"),
          round(col("_avg_l_quantity"), 6).as("avg_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // Incremental JOIN-view maintenance (the delta-join identity
    // ΔJ = ΔA⋈B_new ∪ A_old⋈ΔB): a DML mix hits BOTH sides of an
    // orders⋈lineitem rollup with a refresh after every transaction;
    // the oracle recomputes the final join rollup from first
    // principles — a hash match proves the signed deltas composed
    // through the join exactly (inserts, deletes, updates, and
    // multiset duplicate rows included).
    "q_mv_join_delta" -> ((s, dir) => Q.withScratch(s, "graft_mvjoin_q") { rootP =>
      val root = rootP.toString
      val orders = t(s, dir, "orders")
      val items = t(s, dir, "lineitem")
      val a = VersionedTable.create(s, s"$root/a",
        orders.where(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
      val b = VersionedTable.create(s, s"$root/b",
        items.where(col("l_orderkey") % 7 =!= 0)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")))
      val view = IncrementalJoinRollup.create(a, b, s"$root/view",
        leftKey = "o_orderkey", rightKey = "l_orderkey",
        groupCols = Seq("o_orderstatus", "l_returnflag"),
        sumCols = Seq("l_quantity", "o_totalprice"))
      a.insert(orders.where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") + 1).as("o_totalprice")))
      view.refresh()
      b.delete(col("l_orderkey") % 5 === 0)
      view.refresh()
      a.update(col("o_orderkey") % 3 === 1,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      view.refresh()
      b.insert(items.where(col("l_orderkey") % 7 === 0 && col("l_orderkey") % 2 === 1)
        .select(col("l_orderkey"), col("l_returnflag"),
          (col("l_quantity") + 5).as("l_quantity")))
      view.refresh()
      view.read()
        .select(col("o_orderstatus"), col("l_returnflag"),
          col("_cnt").as("n"),
          col("_sum_l_quantity").cast("double").as("sum_qty"),
          col("_sum_o_totalprice").cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus"), col("l_returnflag"))
    }),

    // MVCC time travel + ROLLBACK at the gate: every published version
    // stays readable (the VSS/VBBM versioned-block analog — old block
    // versions remain until vacuum), and rollback republishes an old
    // file set as a NEW version (history append-only). Four snapshots
    // — v0 create, v1 insert, v2 delete, v3 = rollback(1) — each
    // value-checked from first principles; v3 must equal v1 exactly
    // (rollback is pure manifest metadata, no data rewrite).
    "q_dml_timetravel" -> ((s, dir) => Q.withScratch(s, "graft_tt_q") { rootP =>
      val root = rootP.toString
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val vt = VersionedTable.create(s, s"$root/table",
        orders.where(col("o_orderkey") % 2 === 0))
      vt.insert(orders.where(col("o_orderkey") % 2 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1))
      vt.delete(col("o_orderkey") % 3 === 0)
      vt.rollback(1)
      def snap(v: Int, label: String) =
        vt.read(v).agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            d(sum(dec(col("o_totalprice")))).as("price_sum"))
          .select(lit(label).as("phase"), col("n"), col("key_sum"),
            col("price_sum"))
      snap(0, "v0_create")
        .unionByName(snap(1, "v1_insert"))
        .unionByName(snap(2, "v2_delete"))
        .unionByName(snap(vt.currentVersion, "v3_rollback"))
        .orderBy(col("phase"))
    }),

    // OPTIMIZE (file compaction, Z-order clustered) at the gate: three
    // inserts fragment the table into ~12 files; optimize(2) rewrites
    // them as 2 z-ordered files in ONE new version. Value-checked agg
    // proves compaction is content-neutral; pinned booleans prove the
    // file count actually dropped and the PRE-compaction version is
    // still readable afterwards (compaction is just another MVCC
    // version — time travel crosses it until vacuum).
    "q_dml_optimize" -> ((s, dir) => Q.withScratch(s, "graft_opt_q") { rootP =>
      val root = rootP.toString
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val vt = VersionedTable.create(s, s"$root/table",
        orders.where(col("o_orderkey") % 3 === 0))
      vt.insert(orders.where(col("o_orderkey") % 3 === 1))
      vt.insert(orders.where(col("o_orderkey") % 3 === 2))
      val before = vt.currentVersion
      val nBefore = vt.read(before).inputFiles.length
      vt.optimize(2, Seq("o_orderkey"))
      val nAfter = vt.read().inputFiles.length
      val historyReadable = vt.read(before).count() == vt.read().count()
      vt.read().agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          d(sum(dec(col("o_totalprice")))).as("price_sum"))
        .select(col("n"), col("key_sum"), col("price_sum"),
          lit(nAfter <= 2 && nBefore > 2).as("compacted"),
          lit(historyReadable).as("history_readable"))
    }),

    // VACUUM (version-buffer reclamation on transaction end): after a
    // create/insert/delete history, vacuum(keepVersions=1) must drop
    // the superseded manifests AND their now-unreferenced data files
    // while leaving the live version bit-identical. Pinned booleans:
    // files were actually reclaimed, and time travel to v0 now FAILS
    // (the inverse of q_dml_optimize's history_readable — together
    // they pin the retention boundary exactly at `keepVersions`).
    "q_dml_vacuum" -> ((s, dir) => Q.withScratch(s, "graft_vac_q") { rootP =>
      val root = rootP.toString
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val vt = VersionedTable.create(s, s"$root/table",
        orders.where(col("o_orderkey") % 2 === 0))
      vt.insert(orders.where(col("o_orderkey") % 2 === 1))
      vt.delete(col("o_orderkey") % 5 === 0)
      val removed = vt.vacuum(keepVersions = 1)
      val historyGone = scala.util.Try(vt.read(0).count()).isFailure
      vt.read().agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          d(sum(dec(col("o_totalprice")))).as("price_sum"))
        .select(col("n"), col("key_sum"), col("price_sum"),
          lit(removed > 0).as("files_reclaimed"),
          lit(historyGone).as("history_reclaimed"))
    }),

    // Multi-writer OPTIMISTIC CONCURRENCY at the gate (the
    // DBRM-serialization analog, VERDICT r11 stretch #7): two
    // transactions begin on the SAME base version; A commits first,
    // so B's commit MUST detect the lost race (ConcurrentWriteException
    // — the reference surfaces the same condition when a transaction's
    // version buffer no longer matches the BRM's committed state,
    // versioning/BRM), then B re-begins on A's version, re-applies,
    // and commits cleanly. Deterministic: the "race" is two sequential
    // transactions with overlapping base versions — no timing, no
    // threads, same lost-update shape. Value-checked final state
    // (update-then-delete from first principles in DuckDB) + pinned
    // booleans for each protocol step.
    "q_dml_concurrency" -> ((s, dir) => Q.withScratch(s, "graft_ccr_q") { rootP =>
      val root = rootP.toString
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val vt = VersionedTable.create(s, s"$root/table",
        orders.where(col("o_orderkey") % 2 === 0))
      // both transactions observe v0
      val txnA = vt.begin()
      val txnB = vt.begin()
      txnA.update(col("o_orderkey") % 4 === 0,
        Map("o_totalprice" -> (col("o_totalprice") + 10)))
      txnB.delete(col("o_orderkey") % 6 === 0)
      txnA.commit() // v1
      val raceDetected =
        try { txnB.commit(); false }
        catch { case _: graft.dml.ConcurrentWriteException => true }
      // loser retries: re-begin on A's committed version, re-apply
      val txnB2 = vt.begin()
      txnB2.delete(col("o_orderkey") % 6 === 0)
      val retryOk = try { txnB2.commit(); true }
        catch { case _: graft.dml.ConcurrentWriteException => false }
      // the retry must see A's update (delete applies AFTER update),
      // and the losing attempt's writes must be invisible
      vt.read().agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          d(sum(dec(col("o_totalprice")))).as("price_sum"))
        .select(col("n"), col("key_sum"), col("price_sum"),
          lit(raceDetected).as("race_detected"),
          lit(retryOk).as("retry_committed"),
          lit(vt.currentVersion == 2).as("two_commits_published"))
    }),

    // CRASH-IN-FLIGHT write atomicity (VERDICT r12 #3): a writer dies
    // BETWEEN staging data files and publishing its manifest — the
    // reference's version-buffer rollback path (versioning/BRM/vbbm.h,
    // vss.h:167-198): uncommitted blocks must stay invisible and be
    // reclaimed. Simulated deterministically by writing parquet files
    // into a data_* staging dir under the table root (exactly what
    // writeData leaves behind when commit() never runs) with POISONED
    // values (price ×1000), so any reader leakage shifts the
    // value-checked aggregates. Pinned: readers at the crash point see
    // exactly v1 (n_at_crash/price_at_crash vs first-principles
    // DuckDB), vacuum reclaims the orphans WITHOUT touching live
    // history (keepVersions spans every manifest — pure orphan
    // collection), and the next commit publishes at the correct next
    // version as if the dead writer never existed.
    "q_dml_crash_recovery" -> ((s, dir) => Q.withScratch(s, "graft_crash_q") { rootP =>
      val root = rootP.toString
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val odd = col("o_orderkey") % 2 === 1
      val vt = VersionedTable.create(s, s"$root/table",
        orders.where(col("o_orderkey") % 2 === 0))
      vt.insert(orders.where(odd && col("o_orderkey") % 3 === 0)) // v1
      val crashDir = s"$root/table/data_deadcrash"
      orders.where(odd && col("o_orderkey") % 3 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 1000)
        .write.parquet(crashDir)
      def stagedParquet(): Int =
        Option(new java.io.File(crashDir.stripPrefix("file:")).listFiles())
          .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
      val orphansStaged = stagedParquet() > 0
      val atCrash = vt.read().agg(count(lit(1)).cast("long"),
        d(sum(dec(col("o_totalprice"))))).head
      val (nAtCrash, priceAtCrash) = (atCrash.getLong(0), atCrash.getDouble(1))
      val removed = vt.vacuum(keepVersions = vt.currentVersion + 1)
      val orphansReclaimed = removed > 0 && stagedParquet() == 0
      val historyIntact = scala.util.Try(vt.read(0).count()).toOption.exists(_ > 0)
      val commitResumed =
        vt.insert(orders.where(odd && col("o_orderkey") % 3 === 2)) == 2
      vt.read().agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          d(sum(dec(col("o_totalprice")))).as("price_sum"))
        .select(col("n"), col("key_sum"), col("price_sum"),
          lit(nAtCrash).as("n_at_crash"),
          lit(priceAtCrash).as("price_at_crash"),
          lit(orphansStaged).as("orphans_staged"),
          lit(orphansReclaimed).as("orphans_reclaimed"),
          lit(historyIntact).as("history_intact"),
          lit(commitResumed).as("commit_resumed"))
    }),

    // Key-upsert MERGE: overlap takes source values, new keys insert.
    "q_dml_merge" -> ((s, dir) => Q.withScratch(s, "graft_merge_q") { rootP =>
      val root = rootP.toString
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val vt = VersionedTable.create(s, s"$root/table",
        orders.where(col("o_orderkey") < 2000))
      vt.merge(orders.where(col("o_orderkey") >= 1000 && col("o_orderkey") < 3000)
        .withColumn("o_totalprice", col("o_totalprice") + 1), "o_orderkey")
      vt.read()
        .groupBy((col("o_orderkey") % 10).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          d(sum(dec(col("o_totalprice")))).as("price_sum"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("bucket"))
    }))

  val oracle: Map[String, String] = Map(
    "q_rollup_incremental" ->
      """WITH li AS (
        |  SELECT * FROM lineitem WHERE l_orderkey % 4 = 1),
        |with_ins AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity FROM li
        |  UNION ALL
        |  SELECT l_orderkey, l_returnflag, l_quantity + 1 FROM li
        |  WHERE l_orderkey % 7 = 0),
        |after_del AS (
        |  SELECT * FROM with_ins WHERE l_orderkey % 5 <> 0),
        |after_upd AS (
        |  SELECT l_orderkey, l_returnflag,
        |    CASE WHEN l_orderkey % 3 = 1 THEN l_quantity * 2
        |         ELSE l_quantity END AS q
        |  FROM after_del)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  ROUND(CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty
        |FROM after_upd GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_mv_join_delta" ->
      """WITH a_final AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 1 THEN o_totalprice * 2
        |         WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |b_final AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 7 <> 0 AND l_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT l_orderkey, l_returnflag, l_quantity + 5 FROM lineitem
        |  WHERE l_orderkey % 7 = 0 AND l_orderkey % 2 = 1)
        |SELECT o_orderstatus, l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM a_final JOIN b_final ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus, l_returnflag
        |ORDER BY o_orderstatus, l_returnflag""".stripMargin,
    // the four snapshots from first principles; v3 repeats v1 (the
    // rollback contract)
    "q_dml_timetravel" ->
      """WITH v0 AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
        |v1 AS (SELECT o_orderkey, o_totalprice FROM v0
        |       UNION ALL
        |       SELECT o_orderkey, o_totalprice + 1 FROM orders WHERE o_orderkey % 2 = 1),
        |v2 AS (SELECT * FROM v1 WHERE o_orderkey % 3 <> 0),
        |s AS (
        |  SELECT 'v0_create' AS phase, COUNT(*) AS n, SUM(o_orderkey) AS key_sum,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum FROM v0
        |  UNION ALL
        |  SELECT 'v1_insert', COUNT(*), SUM(o_orderkey),
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM v1
        |  UNION ALL
        |  SELECT 'v2_delete', COUNT(*), SUM(o_orderkey),
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM v2
        |  UNION ALL
        |  SELECT 'v3_rollback', COUNT(*), SUM(o_orderkey),
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM v1)
        |SELECT phase, CAST(n AS BIGINT) AS n, CAST(key_sum AS BIGINT) AS key_sum, price_sum
        |FROM s ORDER BY phase""".stripMargin,
    // compaction is content-neutral: the agg is just full orders; the
    // file-count drop and history-readability proofs are pinned TRUE
    "q_dml_optimize" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  TRUE AS compacted, TRUE AS history_readable
        |FROM orders""".stripMargin,
    // live state = full orders minus the deleted fifth; reclamation
    // proofs pinned TRUE
    "q_dml_vacuum" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  TRUE AS files_reclaimed, TRUE AS history_reclaimed
        |FROM orders WHERE o_orderkey % 5 <> 0""".stripMargin,
    // final state from first principles: optimistic concurrency must
    // serialize to update-then-delete (A's update commits first, B's
    // retry re-applies the delete on top); the booleans pin the
    // protocol outcome (race detected, retry succeeded, two versions)
    "q_dml_concurrency" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 10
        |                     ELSE o_totalprice END AS DECIMAL(18,2)))
        |    AS DOUBLE) AS price_sum,
        |  TRUE AS race_detected, TRUE AS retry_committed,
        |  TRUE AS two_commits_published
        |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 6 <> 0""".stripMargin,
    "q_dml_crash_recovery" ->
      """WITH v01 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0
        |     OR (o_orderkey % 2 = 1 AND o_orderkey % 3 = 0)),
        |fin AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0
        |     OR (o_orderkey % 2 = 1 AND o_orderkey % 3 IN (0, 2)))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM v01) AS n_at_crash,
        |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |     FROM v01) AS price_at_crash,
        |  TRUE AS orphans_staged, TRUE AS orphans_reclaimed,
        |  TRUE AS history_intact, TRUE AS commit_resumed
        |FROM fin""".stripMargin,
    "q_dml_merge" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1 AS price
        |  FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey < 1000)
        |SELECT CAST(o_orderkey % 10 AS INT) AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM merged GROUP BY 1 ORDER BY bucket""".stripMargin)
}
