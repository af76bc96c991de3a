package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants that don't need a SparkSession: the
  * correctness gate hash-checks every query against its DuckDB oracle,
  * so a query silently missing an oracle (or a name collision shadowing
  * one) would weaken the gate without failing anything — pin it here.
  */
class ContractSpec extends AnyFunSuite {

  test("inventory names are unique") {
    val names = SparkEntry.inventory.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).distinct}")
  }

  test("every inventory query carries a DuckDB oracle") {
    val missing = SparkEntry.inventory.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("oracle SQL references only driver testdata tables") {
    val known = Tables.names.toSet
    SparkEntry.oracleSql.foreach { case (name, rawSql) =>
      // `x IS [NOT] DISTINCT FROM y` is an OPERATOR (q50's null-safe
      // image comparison), not a table reference — strip it before the
      // FROM/JOIN scan or the operand after it reads as a table name
      val sql = rawSql.replaceAll("(?i)is\\s+(not\\s+)?distinct\\s+from", "<=>")
      val froms = "(?i)(?:from|join)\\s+([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = froms -- known -- Set("unnest") // CTE names resolve first
      // CTE aliases are fine — just require that every base table
      // mentioned anywhere in FROM/JOIN position is either a CTE defined
      // in the same query or a known testdata table
      // the optional (col, ...) group matches recursive-CTE headers like
      // `cc_reach(doc_id, r) AS (` — declared column lists are legal CTE
      // syntax and p1/d6 use them for the components fixpoint; the
      // optional MATERIALIZED keyword matches DuckDB's explicit CTE
      // materialization hint (`x AS MATERIALIZED (`), which s12's oracle
      // needs because DuckDB 1.0 otherwise inlines a multi-referenced
      // CTE once per reference
      val ctes = "(?i)([a-z_][a-z0-9_]*)\\s*(?:\\([a-z0-9_,\\s]*\\))?\\s+as\\s*(?:(?:not\\s+)?materialized\\s*)?\\(".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      assert((unknown -- ctes).isEmpty,
        s"$name oracle references unknown tables: ${unknown -- ctes}")
    }
  }

  test("bench-twin flags stay confined to their adjudicated cells") {
    // q67 is the one pedagogical twin excluded from the headline total
    // (VERDICT r11 item 5); q26 is the one cell whose bench spelling
    // drops oracle apparatus (item 4). A new benchRun/benchHeadline
    // use must be adjudicated here — the flags weaken the bench gate if
    // they spread silently.
    val nonHeadline = SparkEntry.inventory.filterNot(_.benchHeadline).map(_.name)
    assert(nonHeadline == Seq("q67_salted_join"), s"non-headline cells: $nonHeadline")
    // q65 joined in round 13: its exact-NDV twin is the same class of
    // oracle apparatus as q26's (the bench times the sketch-only
    // production path; the test below pins the sketch columns equal)
    val twinned = SparkEntry.inventory.filter(_.benchRun.isDefined).map(_.name)
    assert(twinned == Seq("q26_approx_distinct", "q65_kmv_ndv"),
      s"benchRun twins: $twinned")
  }

  test("q65 benchRun: sketch columns and cardinality equal the oracle spelling") {
    val spark = SparkTestSession.spark
    val q = SparkEntry.inventory.find(_.name == "q65_kmv_ndv").get
    val dir = "/root/testdata/sf0.001"
    val run = q.run(spark, dir).select("source", "kth_h", "est_ndv")
    val benched = q.benched(spark, dir).select("source", "kth_h", "est_ndv")
    assert(run.exceptAll(benched).count() == 0 &&
      benched.exceptAll(run).count() == 0,
      "benchRun sketch must equal the oracle spelling's sketch columns")
  }

  test("the mains in src/main/scala are exactly the listed entry points") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    // every entry point with the reason it stays; a new one-off probe
    // main fails here until it is listed on purpose
    val entryPoints = Map(
      "Bench" -> "the driver contract's metrics line",
      "Verify" -> "the driver contract's result dump for the oracle gate",
      "bench.CardManifest" -> "writes results/cardinality_manifest.tsv, which Bench and perfbench check counts against",
      "bench.Probe" -> "times or explains single bench cells (tools/bench_regress.py runs it)",
      "bench.SortSweep" -> "the sort sweep and the reference's PNG charts (tools/runall.sh runs it)",
      "bench.ScaleProbe" -> "its replica builder is kept for the planned scale pass",
    )
    val obj = """\bobject\s+(\w+)""".r
    val main = """\bdef\s+main\(""".r
    val found = SourceScan(root.toString)
      .flatMap { case (p, src) =>
        val pkg = root.relativize(p.getParent).toString.replace('/', '.')
        main.findAllMatchIn(src).map { m =>
          val o = obj.findAllMatchIn(src.substring(0, m.start)).map(_.group(1)).toSeq.lastOption
            .getOrElse(s"<no object in ${p.getFileName}>")
          if (pkg.isEmpty) o else s"$pkg.$o"
        }
      }.toSet
    assert(found == entryPoints.keySet,
      s"unlisted mains: ${found -- entryPoints.keySet}; listed but gone: ${entryPoints.keySet -- found}")
  }
}
