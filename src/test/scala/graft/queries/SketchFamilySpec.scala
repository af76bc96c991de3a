package graft.queries

import graft.SparkSpec
import graft.pipeline.Portable
import org.apache.spark.sql.functions._

/** q64 count-min / q65 bottom-k: the probabilistic contracts the oracle
  * hash (which only proves cross-engine agreement) cannot express —
  * CMS never underestimates and stays within εN; KMV estimates land
  * within the ~1/√k error regime; both sketches MERGE losslessly
  * (cell-wise sum / bottom-k of bottom-k's) — the property that makes
  * them the 100 TB profiler primitives; and q65's rank-k filter
  * compiles to a map-side WindowGroupLimit.
  */
class SketchFamilySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("q64: CMS never underestimates and stays within the εN bound") {
    val rows = graft.SparkEntry.queries("q64_cms_topk")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 20)
    val n = graft.Tables.t(spark, dir, "documents")
      .select(explode(Portable.bigrams(Portable.words(col("text")))).as("t"))
      .count()
    // ε = e/width; a probe's error exceeds εN with prob ≤ (1/e)^rows
    val bound = math.ceil(math.E / 256.0 * n).toLong
    rows.foreach { case (term, exact, cms) =>
      assert(cms >= exact, s"CMS underestimated $term: $cms < $exact")
      assert(cms - exact <= bound,
        s"CMS error for $term exceeds εN: $cms - $exact > $bound")
    }
    // at this corpus/width load the min-over-rows must be doing real
    // work: collisions exist (some probe is overestimated)
    assert(rows.exists { case (_, e, c) => c > e },
      "width 256 against ~960 keys must produce at least one collision")
  }

  test("q64: the CMS grid merges by cell-wise sum (split corpus = whole corpus)") {
    def grid(where: org.apache.spark.sql.Column): Map[(Int, Long), Long] = {
      val bigr = graft.Tables.t(spark, dir, "documents").filter(where)
        .select(explode(Portable.bigrams(Portable.words(col("text")))).as("term"))
      bigr.select(explode(array((0 until 4).map { r =>
          struct(lit(r).as("r"),
            pmod(Portable.md5Long(concat(col("term"), lit("|" + r))),
              lit(256L)).as("b"))
        }: _*)).as("rb"))
        .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val whole = grid(lit(true))
    val even = grid(col("doc_id") % 2 === 0)
    val odd = grid(col("doc_id") % 2 =!= 0)
    val merged = (even.keySet ++ odd.keySet).map { k =>
      k -> (even.getOrElse(k, 0L) + odd.getOrElse(k, 0L))
    }.toMap
    assert(merged == whole, "summed half-corpus grids must equal the whole-corpus grid")
  }

  test("q65: estimates land in the 1/√k error regime; ALL row is tighter") {
    val rows = graft.SparkEntry.queries("q65_kmv_ndv")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val (all, per) = rows.partition(_._1 == "ALL")
    assert(all.length == 1 && per.length == 20,
      s"expected 20 sources + ALL, got ${rows.length}")
    per.foreach { case (src, _, est, exact) =>
      assert(math.abs(est - exact) / exact <= 0.40,
        s"$src estimate $est too far from exact $exact (k=64 ⇒ ~12% σ)")
    }
    val (_, _, gEst, gExact) = all.head
    assert(math.abs(gEst - gExact) / gExact <= 0.15,
      s"global estimate $gEst too far from exact $gExact")
  }

  test("q65: the ALL row equals the from-scratch global bottom-k (merge is lossless)") {
    val hs = graft.Tables.t(spark, dir, "documents")
      .select(explode(Portable.spansK(Portable.words(col("text")), 3)).as("g"))
      .select(Portable.md5Long(col("g")).as("h")).distinct()
    val directKth = hs.orderBy(col("h").asc).limit(64)
      .agg(max(col("h"))).collect()(0).getLong(0)
    val allRow = graft.SparkEntry.queries("q65_kmv_ndv")(spark, dir)
      .filter(col("source") === "ALL").collect()(0)
    assert(allRow.getLong(1) == directKth,
      s"merged-sketch global kth ${allRow.getLong(1)} != direct $directKth")
  }

  test("q65: rank-k filter compiles to a WindowGroupLimit") {
    val p = graft.SparkEntry.queries("q65_kmv_ndv")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"the rk<=k filter must prune per-source bottom-k before the shuffle:\n$p")
  }
}
