package graft.sort

import graft.sort.ColumnSort.PackedKeys.Last

/** The merge half of the sort-merge experiment the reference scaffolds
  * but never runs: `split_batch`/`take_columns` (`src/data.rs:245-294`,
  * dead code under `#![allow(dead_code)]`) scatter a SORTED batch into
  * N pseudo-random streams — the classic input state for comparing a
  * k-way merge of sorted runs against a full re-sort. [[scatter]] is
  * that setup; [[mergeRuns]] is the merge itself: a loser-tree over the
  * batch's packed keys.
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
    * merge uses — one match per level, log₂(k) per emitted row, no
    * sift-down double-compares like a binary heap). A match compares the
    * two head rows' packed keys ([[ColumnSort.packKeys]]), and the
    * per-column chain over the columns the key did not settle only where
    * those are equal and the key is not complete. Stable across runs:
    * ties emit the lower run id first, which — because [[scatter]]'s
    * runs partition a stable sort's output in order — is exactly the
    * original sorted order.
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
    if (k == 1) return Array.range(0, n) // single run: already sorted
    val keys = ColumnSort.packKeys(batch.cols, n, ColumnSort.idxBitsFor(n))
    val words = keys.words
    // built at the first key tie it must break
    lazy val cmp = ColumnSort.colChain(batch.cols.drop(keys.settled))
    // loser tree over the next-power-of-two bracket, its spare leaves
    // empty runs: internal nodes store the LOSER of their subtree's
    // match, the overall winner sits outside the tree. Init plays every
    // match bottom-up; after emitting, only the consumed run's head
    // changed, so replaying that run's leaf-to-root path against the
    // stored losers restores the invariant — one MATCH per level,
    // log2(k) per emitted row (a binary heap sifts down with two
    // matches per level).
    var m = 1
    while (m < k) m <<= 1
    val head = new Array[Int](m) // next unconsumed position per run
    val end = new Array[Int](m)
    val word = new Array[Long](m) // the head row's packed word; Last once exhausted
    r = 0
    while (r < m) {
      head(r) = if (r < k) offsets(r) else n
      end(r) = if (r < k) offsets(r + 1) else n
      word(r) = if (head(r) < end(r)) words(head(r)) else Last
      r += 1
    }
    // run a BEATS run b iff a's head row sorts strictly before b's, or
    // ties with a lower run id (stability); exhausted runs always lose.
    // Head words that decide order the runs alone (row indices follow
    // run order). The rest — an exhausted run, or a key tie the key
    // cannot break — costs up to two `lt` probes (the lt-only
    // comparator can't 3-way; the second probe detects the tie the
    // run-id rule breaks).
    def beats(a: Int, b: Int): Boolean = {
      val wa = word(a); val wb = word(b)
      if (keys.decides(wa, wb)) wa < wb
      else {
        val i = head(a); val j = head(b)
        if (i >= end(a)) false
        else if (j >= end(b)) true
        else if (cmp.lt(i, j)) true
        else if (cmp.lt(j, i)) false
        else a < b
      }
    }
    val tree = new Array[Int](m) // losers; tree(0) unused
    def init(node: Int): Int = { // returns the subtree's winner
      if (node >= m) node - m
      else {
        val a = init(2 * node)
        val b = init(2 * node + 1)
        if (beats(a, b)) { tree(node) = b; a } else { tree(node) = a; b }
      }
    }
    var winner = init(1)
    val out = new Array[Int](n)
    var outPos = 0
    while (outPos < n) {
      val w = winner
      val i = head(w)
      out(outPos) = i
      outPos += 1
      head(w) = i + 1
      word(w) = if (i + 1 < end(w)) words(i + 1) else Last
      // replay the winner's leaf with its new head (or exhausted)
      var cur = w
      var node = (m + w) >> 1
      while (node >= 1) {
        val other = tree(node)
        // unconditional store and selects: the JIT emits conditional
        // moves for the match outcome, which no branch predictor knows
        val lost = !beats(cur, other)
        tree(node) = if (lost) cur else other
        cur = if (lost) other else cur
        node >>= 1
      }
      winner = cur
    }
    out
  }
}
