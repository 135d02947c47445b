package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact Jaccard-threshold self-join with PPJoin-style prefix filtering
  * (no reference analog — the scalable exact path for near-dup joins).
  *
  * A naive inverted-index join pairs every two docs sharing ANY shingle —
  * Σ_s df(s)² pairs, quadratic under hot shingles. Prefix filtering keeps
  * exactness while joining only on each doc's RAREST shingles: order all
  * shingles by (document frequency asc, shingle asc) — any consistent
  * total order works, rarest-first minimizes join fan-out — and keep each
  * doc's first |S| − ⌈t·|S|⌉ + 1 shingles. If J(A,B) ≥ t, the two prefixes
  * must share a shingle (pigeonhole on the ⌈t·|S|⌉ overlap a qualifying
  * pair needs), so no qualifying pair is lost; candidates then verify with
  * the exact inverted-index Jaccard.
  *
  * Cost shape at scale: one df-count aggregate, one window for prefix
  * ranks, one equi-join on rare shingles (AQE-skew-splittable), then
  * verification proportional to the candidate count.
  */
object SetSimJoin {

  /** (doc_a, doc_b, jaccard) pairs with exact Jaccard ≥ threshold, from an
    * (id, shingle) exploded frame (distinct shingles per id).
    *
    * Same machinery as [[containmentPairs]] (see the comments there):
    * 8-byte `xxhash64(shingle)` join keys behind the runtime injectivity
    * gate (collision ⇒ string-key fallback, so the result never depends
    * on hash luck), a materialized vocabulary-sized df frame, and
    * per-pair verification via `array_intersect` over per-doc key arrays
    * instead of the row-explode join — the candidate row carries two
    * compact arrays and counts the overlap row-local.
    */
  def jaccardPairs(exploded: DataFrame, threshold: Double,
                   forceStringKeys: Boolean = false): DataFrame = {
    val vocab = graft.core.Materialize(exploded.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .withColumn("h", xxhash64(col("shingle"))))
    val hashOk = !forceStringKeys &&
      vocab.groupBy("h").agg(count(lit(1)).as("c"))
        .where(col("c") > 1).isEmpty
    // keyed exploded frame checkpointed for the same two-consumer reason
    // as containmentPairs below (docArr build + prefix tree each re-ran
    // the corpus tokenize; two longs per row on the gate path)
    val (ex, freq) =
      if (hashOk)
        (graft.core.Materialize(
          exploded.select(col("id"), xxhash64(col("shingle")).as("k"))),
          vocab.select(col("h").as("k"), col("df")))
      else
        (graft.core.Materialize(
          exploded.select(col("id"), col("shingle").as("k"))),
          vocab.select(col("shingle").as("k"), col("df")))
    graft.core.Shared.noteBuild("ckpt:jaccard_exkeys")
    val docArr = graft.core.Materialize(
      ex.groupBy("id").agg(collect_list(col("k")).as("arr"),
        count(lit(1)).as("n")))
    val sizes = docArr.select(col("id"), col("n"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("k"))
    val prefix = ex.join(freq, "k").join(sizes, "id")
      .withColumn("pos", row_number().over(w))
      .where(col("pos") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select("id", "k", "n", "pos")
    val a = prefix.select(col("id").as("a"), col("k"),
      col("n").as("na"), col("pos").as("pa"))
    val b = prefix.select(col("id").as("b"), col("k"),
      col("n").as("nb"), col("pos").as("pb"))
    // size filter: J(A,B) ≥ t forces t·|A| ≤ |B| ≤ |A|/t; positional filter
    // (PPJoin): J ≥ t needs overlap ≥ t(|A|+|B|)/(1+t), and a match at
    // prefix positions (pa, pb) bounds the remaining overlap by
    // min(na−pa, nb−pb)+1 — lossless, because the pair's FIRST shared
    // prefix element always carries the loosest bound (ties in the global
    // order can't reorder shared elements between the two docs)
    val posBound = (least(col("na") - col("pa"), col("nb") - col("pb")) + 1) *
      lit(1.0 + threshold) >= lit(threshold) * (col("na") + col("nb")) - lit(1e-9)
    val cand = a.join(b, "k").where(col("a") < col("b") &&
        col("nb") >= ceil(lit(threshold) * col("na")) &&
        col("na") >= ceil(lit(threshold) * col("nb")) &&
        posBound)
      .select("a", "b").distinct()
    // verification: exact shared-count (shingles are distinct per doc,
    // keys injective under the gate); on the long-key path the count-only
    // intersect_count_q expression replaces size(array_intersect(…)) —
    // same distinct-shared semantics, no per-pair result-array
    // materialization (r14 kernel A/B: 2.2× on the verifier shape). The
    // string-key fallback keeps the built-in. The double division
    // replicates verifyJaccard's association order exactly
    val sharedCount =
      if (hashOk) call_function("intersect_count_q", col("sa"), col("sb"))
      else size(array_intersect(col("sa"), col("sb"))).cast("long")
    cand
      .join(docArr.select(col("id").as("a"), col("arr").as("sa"),
        col("n").as("na")), "a")
      .join(docArr.select(col("id").as("b"), col("arr").as("sb"),
        col("n").as("nb")), "b")
      .withColumn("shared", sharedCount)
      .withColumn("jaccard_raw", col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")))
      .where(col("jaccard_raw") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        round(col("jaccard_raw"), 6).as("jaccard"))
  }

  /** Ordered containment-threshold self-join — the ASYMMETRIC prefix
    * filter. containment(A→B) = |S(A)∩S(B)| / |S(A)| ≥ t admits the same
    * pigeonhole device as Jaccard, applied one-sidedly: if the overlap is
    * ≥ ⌈t·|S(A)|⌉, then at most ⌊(1−t)·|S(A)|⌋ of A's shingles are absent
    * from B, so any prefix of ⌊(1−t)·|S(A)|⌋ + 1 shingles (any consistent
    * global order; rarest-first minimizes fan-out) must hit B. The
    * inverted index therefore holds ONLY each A-side doc's
    * |S| − ⌈t·|S|⌉ + 1 rarest shingles — candidate volume is
    * Σ_s df_prefix(s)·df(s), and a hot shingle (high df) is precisely the
    * one that rarest-first ordering keeps OUT of every prefix, so the
    * Σ df² blowup of the naive index cannot occur. A size filter
    * (|S(B)| ≥ ⌈t·|S(A)|⌉, since B must contain the overlap) prunes
    * further; both filters are lossless, so the result is IDENTICAL to
    * the unpruned inverted-index join. Candidates then verify with the
    * exact per-pair intersection count (cost ∝ Σ_cand |S(A)|).
    *
    * Output: (a_id, b_id, inter, size_a, containment) for pairs with
    * inter ≥ ⌈t·size_a⌉ — for t = 0.5 this is the pure integer gate
    * 2·inter ≥ size_a (0.5·n is exact in binary, so `ceil` is
    * boundary-exact).
    *
    * Shuffle width: all candidate and verification joins run on 8-byte
    * `xxhash64(shingle)` keys behind a runtime injectivity gate (see the
    * inline comment) — string keys only on the detected-collision
    * fallback path.
    */
  /** @param forceStringKeys spec hook (the Mst threshold-0 precedent):
    *        true pins the detected-collision fallback path, which real
    *        corpora essentially never take, so it cannot bitrot.
    */
  def containmentPairs(exploded: DataFrame, threshold: Double,
                       forceStringKeys: Boolean = false): DataFrame = {
    // vocabulary (document frequency per shingle) — ONE corpus-pass
    // aggregate, materialized because it feeds four subplans (the hash
    // gate, and the prefix/b-side trees that each re-derived it before):
    // the frame is vocabulary-sized, so unlike the exploded frame (whose
    // persist was measured a loss, see jaccardPairs) the cache build is
    // cheap and it removes a full re-tokenize+groupBy per consumer
    val vocab = graft.core.Materialize(exploded.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .withColumn("h", xxhash64(col("shingle"))))
    // attribute the eager checkpoint build to the consuming bench attempt
    // (r12 verdict task 1: the per-attempt rebuild of these two frames was
    // the unattributed cost in containment_pairs' driver max band)
    graft.core.Shared.noteBuild("ckpt:containment_vocab")
    // 8-byte-key gate: every downstream shuffle (the prefix candidate
    // join, the candidate distinct, both verification joins) carries
    // xxhash64(shingle) instead of the shingle string IFF the hash is
    // injective on THIS corpus's vocabulary — checked at runtime with one
    // vocabulary-sized aggregate over the already-materialized vocab.
    // Injective hash ⟹ the keys are a pure relabeling and the result is
    // bit-identical to the string-keyed join; a collision (expected
    // ≈ V²/2⁶⁵ at vocabulary size V) falls back to the string path, so
    // exactness NEVER depends on hash luck — the typo_join hashed-key
    // trick upgraded from "collisions are harmless" to "collisions are
    // detected". PortableHash is not needed: under the gate the hash
    // never affects the result. The (df, key) prefix order changes with
    // the relabeling, but ANY consistent total order is lossless for the
    // pigeonhole/positional filters, and the verified output is
    // order-invariant.
    val hashOk = !forceStringKeys &&
      vocab.groupBy("h").agg(count(lit(1)).as("c"))
        .where(col("c") > 1).isEmpty
    // the KEYED exploded frame is checkpointed: it feeds the docArr build
    // AND the prefix/b-side ordered tree below — as a lazy projection each
    // consumer re-ran the corpus tokenize+explode (3 full text passes per
    // execution counting vocab's; now 2). Unlike the STRING-shingle frame
    // (whose persist was measured a loss, see jaccardPairs) this is two
    // longs per row on the gate path — strictly narrower than its
    // derivation (round 14).
    val (ex, freq) =
      if (hashOk)
        (graft.core.Materialize(
          exploded.select(col("id"), xxhash64(col("shingle")).as("k"))),
          vocab.select(col("h").as("k"), col("df")))
      else
        (graft.core.Materialize(
          exploded.select(col("id"), col("shingle").as("k"))),
          vocab.select(col("shingle").as("k"), col("df")))
    graft.core.Shared.noteBuild("ckpt:containment_exkeys")
    // per-doc shingle-key arrays: feeds BOTH the size column everywhere a
    // size is needed and the array_intersect verification below —
    // doc-count-sized (8 bytes per distinct shingle), materialized once
    val docArr = graft.core.Materialize(
      ex.groupBy("id").agg(collect_list(col("k")).as("arr"),
        count(lit(1)).as("n")))
    graft.core.Shared.noteBuild("ckpt:containment_docarr")
    val sizes = docArr.select(col("id"), col("n"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("k"))
    val ordered = ex.join(freq, "k").join(sizes, "id")
      .withColumn("pos", row_number().over(w))
    val prefix = ordered
      .where(col("pos") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("id").as("a_id"), col("k"),
        col("n").as("na"), col("pos").as("pa"))
    val bSide = ordered
      .select(col("id").as("b_id"), col("k"),
        col("n").as("nb"), col("pos").as("pb"))
    // positional filter (the PPJoin device, one-sided): shared shingles
    // appear in the SAME relative order in both docs' (df, shingle)-sorted
    // lists, so a shared element at positions (pa, pb) bounds the overlap
    // by 1 + min(na−pa, nb−pb); the pair needs overlap ≥ ⌈t·na⌉, and the
    // FIRST shared element always carries the loosest bound, so pruning by
    // it is lossless. At scale this is the filter that kills the
    // hot-shingle term: a high-df shingle sorts LAST in every B doc
    // (pb → nb, bound → 1), so the Σ df_prefix(s)·df(s) candidates a hot
    // shingle would emit are dropped in-stage, before the distinct
    // exchange and the per-candidate verification joins — measured
    // sf0.1→sf1 (10×, shared-vocabulary growth): scaling exponent 1.28
    // without the filter, see SURVEY §8 round-9 scale table for the after
    val posBound =
      lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >=
        ceil(lit(threshold) * col("na"))
    val cand = prefix.join(bSide, "k")
      .where(col("a_id") =!= col("b_id") &&
        col("nb") >= ceil(lit(threshold) * col("na")) &&
        posBound)
      .select("a_id", "b_id").distinct()
    // verification: exact per-pair intersection via array_intersect on the
    // two docs' shingle-key arrays — each candidate shuffles ONCE per side
    // (carrying one compact array) and the overlap is counted row-local,
    // instead of fanning every candidate out by |S(A)| exploded rows and
    // re-aggregating (the old shape's dominant stage: at sf0.1, 660 K
    // candidates × ~40 shingles ≈ 28 M verification rows through a
    // groupBy). array_intersect is exact here because shingles are
    // distinct per doc (explodeShingles dedups) and keys are injective
    // under the gate above.
    cand
      .join(docArr.select(col("id").as("a_id"), col("arr").as("sa"),
        col("n").as("size_a")), "a_id")
      .join(docArr.select(col("id").as("b_id"), col("arr").as("sb")), "b_id")
      // long-key path: count-only intersection (intersect_count_q, the
      // measured 2.2× kernel A/B win) — the built-in stays on the
      // string-key fallback
      .withColumn("inter",
        if (hashOk) call_function("intersect_count_q", col("sa"), col("sb"))
        else size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .where(col("inter") >= ceil(lit(threshold) * col("size_a")))
      .select(col("a_id"), col("b_id"), col("inter"), col("size_a"),
        round(col("inter").cast("double") / col("size_a"), 6)
          .as("containment"))
  }
}
