package graft

import org.scalatest.funsuite.AnyFunSuite

/** The TWIN-MATRIX invariant, encoded: every SQL-compiled batch view
  * on the board (`incremental_sql_*`, neither `_stream` nor `_tws`
  * itself) has a `_stream` maintenance twin — the changelog-driven
  * run of the SAME statement against the SAME oracle. Exemptions are
  * explicit and documented here, so the matrix reads 0-missing
  * honestly instead of silently drifting as entries are added. */
class TwinMatrixSpec extends AnyFunSuite {

  test("every incremental_sql_* batch view has a _stream twin (or a documented exemption)") {
    val names = SparkEntry.queries.keySet.filter(_.startsWith("incremental_sql_"))
    val bases = names.filterNot(n => n.endsWith("_stream") || n.endsWith("_tws"))
    // Exemptions: entry -> why no _stream twin is owed.
    val exempt = Map(
      "incremental_sql_recursive_paths_dred" ->
        ("IS the maintenance form — a mixed insert+delete changelog run " +
          "(DRed over-delete / re-derive) of the statement whose batch " +
          "entry is incremental_sql_recursive_paths; a _stream twin of a " +
          "maintenance run would be maintenance of maintenance"),
      "incremental_sql_recursive_paths_resume" ->
        ("IS a maintenance run too — the _stream changelog with a " +
          "mid-run session restart resumed from the persisted closure; " +
          "its batch base is incremental_sql_recursive_paths"),
      "incremental_sql_recursive_paths_dred_resume" ->
        ("resume × DRed composed — a mixed insert+delete changelog " +
          "resumed from the persisted closure in a fresh session; a " +
          "maintenance run itself, like both of its parents above"))
    val missing = bases.filterNot(exempt.contains)
      .filterNot(b => names.contains(b + "_stream"))
    assert(missing.isEmpty,
      s"batch views missing a _stream twin: ${missing.toSeq.sorted.mkString(", ")}")
    // a stale exemption (renamed/removed entry) must fail loudly too
    exempt.keys.foreach(e =>
      assert(bases.contains(e), s"stale twin exemption: $e"))
    // and every _stream twin must have its batch base on the board
    val orphanExempt = Set(
      // predates the twin naming convention: it shares
      // incremental_sql_join_view's oracle; the name-matched sibling
      // incremental_sql_join_view_stream closes that base's own twin
      "incremental_sql_view_stream")
    names.filter(_.endsWith("_stream")).filterNot(orphanExempt).foreach { t =>
      assert(names.contains(t.stripSuffix("_stream")),
        s"orphan _stream twin (no batch base): $t")
    }
    orphanExempt.foreach(e =>
      assert(names.contains(e), s"stale orphan exemption: $e"))
    // every _stream/_tws twin is gated against its batch base's own
    // oracle, so a twin's answer is the base's answer by construction;
    // exemptions: twin -> why its oracle differs on purpose
    val oracleExempt = Map(
      "incremental_sql_corr_stream" ->
        ("extends the select list with COVAR_SAMP next to CORR: the " +
          "streamed co-moment fold is checked for both closed forms"),
      "incremental_sql_minmax_stream" ->
        ("extends the select list with MEDIAN: value nets must survive " +
          "micro-batch boundaries for the runner-up extreme AND the median"),
      "incremental_sql_q10_fullouter_tws" ->
        ("adds the customer (ancestor) delete to the FULL OUTER view: its " +
          "oracle is incremental_sql_q10_fullouter_ancestor_del's"))
    val all = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql
    val diverged = all.toSeq.sorted.flatMap { t =>
      Seq("_stream", "_tws").find(t.endsWith).map(t.stripSuffix).filter(all)
        .filter(b => oracles.get(b) != oracles.get(t)).map(_ => t)
    }
    assert(diverged.filterNot(oracleExempt.contains).isEmpty,
      s"twins whose oracle differs from their batch base's: " +
        diverged.filterNot(oracleExempt.contains).mkString(", "))
    oracleExempt.keys.foreach(e =>
      assert(diverged.contains(e), s"stale oracle exemption: $e"))
  }
}
