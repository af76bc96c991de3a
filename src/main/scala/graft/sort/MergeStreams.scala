package graft.sort

/** The merge half of the sort-merge experiment the reference scaffolds
  * but never runs: `split_batch`/`take_columns` (`src/data.rs:245-294`,
  * dead code under `#![allow(dead_code)]`) scatter a SORTED batch into
  * N pseudo-random streams — the classic input state for comparing a
  * k-way merge of sorted runs against a full re-sort. [[scatter]] is
  * the kernel-level twin of that setup (the distributed twin is
  * [[graft.datagen.SplitBatch.splitBatch]]); [[mergeRuns]] is the merge
  * itself: a loser-tree over the batch's lexicographic comparator.
  *
  * Scale note: this IS the shape of Spark's own shuffle-merge /
  * spill-run combining (UnsafeSorterSpillMerger is a priority queue
  * over sorted spill readers) — at 100 TB the engine path is
  * `orderBy`'s sort-shuffle, whose reducers merge sorted map outputs
  * exactly like this; the kernel here measures the single-node cost
  * gap the experiment was scaffolded to ask about.
  */
object MergeStreams {

  /** Scatter a sorted batch into `streams` contiguous sorted runs:
    * row i goes to a deterministic pseudo-random stream (seeded — the
    * reference's `StdRng::seed_from_u64(1337)`, `src/data.rs:247`),
    * streams are laid out back-to-back in stream order, and each
    * preserves the input's (sorted) relative order. Returns the
    * scattered batch plus `streams + 1` run offsets (run k =
    * `[offsets(k), offsets(k+1))`).
    */
  def scatter(sorted: ColumnBatch, streams: Int, seed: Long): (ColumnBatch, Array[Int]) = {
    require(streams > 0, s"scatter: streams must be positive, got $streams")
    val n = sorted.numRows
    val rnd = new java.util.Random(seed)
    val assign = Array.fill(n)(rnd.nextInt(streams))
    val counts = new Array[Int](streams)
    var i = 0
    while (i < n) { counts(assign(i)) += 1; i += 1 }
    val offsets = new Array[Int](streams + 1)
    i = 0
    while (i < streams) { offsets(i + 1) = offsets(i) + counts(i); i += 1 }
    val cursor = offsets.take(streams) // take copies; cursor mutates freely
    val perm = new Array[Int](n)
    i = 0
    while (i < n) { // order-preserving within each stream
      val s = assign(i)
      perm(cursor(s)) = i
      cursor(s) += 1
      i += 1
    }
    (ColumnSort.take(sorted, perm), offsets)
  }

  /** K-way merge of contiguous sorted runs into one sorted index
    * vector, via a LOSER TREE (the tournament structure every external
    * merge uses — one comparator call per level, log₂(k) per emitted
    * row, no sift-down double-compares like a binary heap). Stable
    * across runs: ties emit the lower run id first, which — because
    * [[scatter]]'s runs partition a stable sort's output in order — is
    * exactly the original sorted order.
    */
  def mergeRuns(batch: ColumnBatch, offsets: Array[Int]): Array[Int] = {
    // zero-based contract made executable: the emit loop counts to
    // offsets(k) and run 0 starts at offsets(0) — a non-zero base would
    // silently emit out-of-run indices instead of failing
    require(offsets.nonEmpty && offsets(0) == 0,
      s"mergeRuns: offsets must start at 0, got ${offsets.headOption}")
    // a last offset short of numRows would drop rows, and a decreasing
    // pair would let the loser tree emit indices from outside their run
    val k = offsets.length - 1
    val n = offsets(k)
    require(n == batch.numRows,
      s"mergeRuns: offsets must end at numRows ${batch.numRows}, got $n")
    var r = 0
    while (r < k) {
      require(offsets(r) <= offsets(r + 1),
        s"mergeRuns: offsets must be non-decreasing, got ${offsets(r)} then ${offsets(r + 1)}")
      r += 1
    }
    val out = new Array[Int](n)
    if (k == 1) { // single run: already sorted — no comparator needed
      var i = 0
      while (i < n) { out(i) = i; i += 1 }
      return out
    }
    val cmp = ColumnSort.fullChain(batch) // built only when a merge will run
    val head = new Array[Int](k) // next unconsumed position per run
    java.lang.System.arraycopy(offsets, 0, head, 0, k)
    // run a BEATS run b iff a's head row sorts strictly before b's, or
    // ties with a lower run id (stability); exhausted runs always lose
    def beats(a: Int, b: Int): Boolean = {
      if (head(a) >= offsets(a + 1)) return false
      if (head(b) >= offsets(b + 1)) return true
      val i = head(a); val j = head(b)
      if (cmp.lt(i, j)) true
      else if (cmp.lt(j, i)) false
      else a < b
    }
    // loser tree over the next-power-of-two bracket: internal nodes
    // store the LOSER of their subtree's match, the overall winner sits
    // outside the tree. Init plays every match bottom-up (leaves are
    // virtual: run id for < k, the always-losing sentinel -1 above);
    // after emitting, only the consumed run's key changed, so replaying
    // that run's leaf-to-root path against the stored losers restores
    // the invariant — one MATCH per level, log2(k) per emitted row
    // (a binary heap sifts down with two matches per level). A match
    // here costs up to two `lt` probes (the lt-only comparator can't
    // 3-way; the second probe runs only on non-strict orderings to
    // detect the tie the run-id rule breaks).
    var m = 1
    while (m < k) m <<= 1
    val tree = new Array[Int](m) // losers; tree(0) unused
    def init(node: Int): Int = { // returns the subtree's winner
      if (node >= m) { if (node - m < k) node - m else -1 }
      else {
        val a = init(2 * node)
        val b = init(2 * node + 1)
        val aWins = a != -1 && (b == -1 || beats(a, b))
        if (aWins) { tree(node) = b; a } else { tree(node) = a; b }
      }
    }
    var winner = init(1)
    def replay(run: Int): Unit = {
      var cur = run
      var node = (m + run) >> 1
      while (node >= 1) {
        val other = tree(node)
        val curWins =
          if (cur == -1) false
          else other == -1 || beats(cur, other)
        if (!curWins) { tree(node) = cur; cur = other }
        node >>= 1
      }
      winner = cur
    }
    var outPos = 0
    while (outPos < n) {
      val w = winner
      out(outPos) = head(w)
      outPos += 1
      head(w) += 1
      // replay the winner's leaf with its new head (or exhausted)
      replay(w)
    }
    out
  }
}
