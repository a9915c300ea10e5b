package graft.ops

import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended LLM-training-data pipeline operators beyond SURVEY §2.9's
  * core five: the dedup family (SimHash, n-gram Jaccard, embedding-
  * cosine), similarity-search scale path (IVF), text analysis
  * (language-ID, BPE-ish token counting, rolling-hash fingerprint,
  * unigram-perplexity quality), the corpus-curation passes
  * (benchmark decontamination, repetition filtering, domain-mix
  * balancing — also wired into the streaming gate,
  * Streams.curationGateStream), and binary multimodal column plumbing.
  *
  * Scale notes:
  *  - every dedup variant generates candidates through an EQUI join on a
  *    content-derived key (shingle hash inverted index, SimHash band,
  *    LSH band, IVF bucket) — all-pairs comparison never appears in any
  *    plan, and no low-cardinality blocking key creates O(B²) pair
  *    blowups;
  *  - the multimodal decode is a typed mapPartitions pipeline (the Spark
  *    batch-shape for per-record media decoding); image (PNG via
  *    `javax.imageio`) and audio (WAV via `javax.sound.sampled`) decode
  *    are REAL JDK codecs behind that seam — only video decode remains
  *    a clearly-marked deterministic stub (no codec ships in the JDK).
  */
object LlmExtra {
  import Tables._

  // ---- shared text expressions -------------------------------------

  private def toks(c: Column): Column = split(c, " ")

  /** Toy BPE merges table, in rank order — embedded the way a real
    * deployment broadcasts its learned ranks file. Chosen for the
    * fixtures' lowercase-English text (th/the/in/an/and/ing/...).
    * Single source of truth lives beside the native kernel. */
  private[graft] val BpeMerges: Seq[(String, String)] =
    graft.functions.TextHashing.bpeMerges.toSeq

  /** One word → its BPE token array, the HOF PARITY FORMULATION of the
    * native `graft_bpe_tokens` kernel (which the query key uses): split
    * to characters, then apply each merge rank as one greedy
    * left-to-right fold (array `aggregate`: append, or coalesce the
    * tail element when it and the incoming char form the rank's pair —
    * leftmost-first exactly like the reference algorithm's repeated
    * lowest-rank application, and a single pass per rank is exhaustive
    * because a rank's product can't re-form its own pair). Kept as the
    * executable spec the kernel is parity-tested against: 12 nested
    * interpreted lambda folds with per-step array copies cost 28.7 s
    * on the sf0.1 bench vs sub-second for the one-pass kernel. */
  private[graft] def bpeApplyCol(word: Column): Column = {
    // sequence(1, 0) counts DOWN, so an empty word must short-circuit
    // to an empty token array rather than reach the sequence
    val chars = when(length(word) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))))
    BpeMerges.foldLeft(chars) { case (ts, (a, b)) =>
      aggregate(ts, array().cast("array<string>"), (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))
    }
  }

  // Shingle sets live as SORTED DISTINCT 64-bit hash arrays
  // (graft_shingle_hashes3, one native pass over the text bytes): set
  // sizes and intersections are identical to string shingles (collisions
  // ~|sh|²/2⁶⁵ ≈ never). Distinctness within a doc is what lets the
  // inverted-index join count co-occurrences as |A∩B|.

  /** Hot-shingle document-frequency cap: shingles appearing in more than
    * this many docs (per source) are dropped from the inverted index
    * BEFORE any candidate join. A real web corpus has boilerplate
    * shingles (headers, licenses, nav text) with df in the millions —
    * each contributes df² candidate rows, so one hot key turns the
    * Σ_h df(h)² pair space into an O(n²) blowup AND a single hot shuffle
    * partition. Capping is a recall trade with an exact, oracle-checkable
    * definition: Jaccard is computed over the CAPPED shingle sets on both
    * engines (set sizes shrink with the index), and docs made of pure
    * boilerplate simply stop pairing — the documented behavior a
    * production dedup wants, since boilerplate-only similarity is not
    * duplication. 64 never fires on natural fixture text (max fixture df
    * = 6 at sf0.1) but bounds any key's contribution at 100 TB. */
  private[graft] val ShingleDfCap = 64L

  /** Jaccard thresholds: `JacNearDup` = the near-dup report cut,
    * `JacCluster` = the loose transitive-clustering cut. */
  private[graft] val JacNearDup = 0.1
  private[graft] val JacCluster = 0.02

  /** K-gram length (whitespace tokens) for exact substring dedup: long
    * enough that natural-text collisions mean real duplication, short
    * enough to catch planted near-dup docs in the fixtures. */
  private[graft] val SubstrK = 8

  /** The df-capped exploded shingle inverted index: one (doc_id, source,
    * h) row per kept shingle occurrence. The df filter is a left-semi
    * equi join against the (source, h) counts — both sides shuffle on
    * the same key the candidate self-join uses next, so the partitioning
    * is reused, not paid twice. */
  private[graft] def cappedShingleIndexOf(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ex = docs
      .select(col("doc_id"), col("source"),
        explode(graft.functions.VectorFunctions.shingleHashes3(s, col("text")))
          .as("h"))
    ex.join(
      ex.groupBy("source", "h").agg(count(lit(1)).as("df"))
        .where(col("df") <= ShingleDfCap)
        .select("source", "h"),
      Seq("source", "h"), "left_semi")
  }

  private def cappedShingleIndex(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    cappedShingleIndexOf(s, t(s, d, "documents"))

  /** Content-keyed materialization of [[cappedShingleIndex]] — THE
    * persisted intermediate of the two-pass dedup genre (the
    * substring-dedup scaladoc below says it for 100 TB: the index is
    * the artifact every pass and every arriving shard joins against).
    * Shared by `llm_dedup_ngram_jaccard`, `llm_dedup_incremental`, and
    * the cluster-table build; first caller per corpus snapshot pays the
    * shingle explode + df-cap, the rest read parquet. Keyed like the
    * cluster table ([[docsSnapshot]]); no rewrite pruning here — the
    * handful of fixture corpora is bounded, and a rewrite mints a
    * fresh key so correctness never depends on pruning. Rooted at
    * [[Artifacts]] (shared storage when `spark.graft.artifactRoot` is
    * set; per-JVM tmpdir otherwise). */
  private def shingleIndexTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Artifacts.parquet(s, "shidx", docsSnapshot(d))(
      cappedShingleIndex(s, d))

  /** Capped shingle-set size per doc (the Jaccard denominator side
    * inputs). Doc-count-sized — joins back onto the (tiny) pair table. */
  private[graft] def cappedSetSizes(
      idx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    idx.groupBy("doc_id").agg(count(lit(1)).as("n"))

  /** Core of incremental dedup, shared by the batch op
    * (`llm_dedup_incremental`) and the streaming wrapper
    * (`Streams.incrementalDedupStream`): score each NEW-shard doc
    * against the RETAINED corpus via the capped-index equi join and
    * keep/drop it with its best retained match (highest Jaccard, ties
    * to the lowest doc_id). Asymmetric by construction — retained docs
    * are the canon and never flip. */
  private[graft] def shardVsRetained(
      newIdx: org.apache.spark.sql.DataFrame,
      newN: org.apache.spark.sql.DataFrame,
      retIdx: org.apache.spark.sql.DataFrame,
      retN: org.apache.spark.sql.DataFrame,
      newIds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val inter = newIdx.select(col("h"), col("source"), col("doc_id"))
      .join(retIdx.select(col("h"), col("source"),
        col("doc_id").as("match_id")), Seq("h", "source"))
      .groupBy("doc_id", "match_id")
      .agg(count(lit(1)).as("inter"))
    val cand = inter
      .join(newN.select(col("doc_id"), col("n").as("na")), "doc_id")
      .join(retN.select(col("doc_id").as("match_id"), col("n").as("nb")),
        "match_id")
      .select(col("doc_id"), col("match_id"),
        jacExpr(col("inter"), col("na"), col("nb")).as("jac"))
      .where(col("jac") >= JacCluster)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("jac").desc, col("match_id"))
    val best = cand.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1).drop("rk")
    newIds.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("match_id").isNull, "keep").otherwise("drop").as("action"),
        col("match_id"), col("jac"))
  }

  /** (doc_a, doc_b, inter) → (doc_a, doc_b, jac): join the capped set
    * sizes onto the pair table and compute rounded Jaccard. */
  /** THE Jaccard formula + precision (4 dp) — the single definition both
    * the pair report and the incremental/streaming dedup score with, so
    * batch and streaming verdicts can never desynchronize on it. */
  private def jacExpr(inter: Column, na: Column, nb: Column): Column =
    round(inter.cast("double") / (na + nb - inter), 4)

  /** Candidate pairs from a capped shingle index: equi self-join on
    * (h, source), |A∩B| = co-occurrence count. Shared by the near-dup
    * report and the cluster-table build (one definition, like the
    * oracle's shared CTE). */
  private[graft] def candidatePairs(
      idx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    idx.select(col("h"), col("source"), col("doc_id").as("doc_a"))
      .join(idx.select(col("h"), col("source"), col("doc_id").as("doc_b")),
        Seq("h", "source"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))

  private def jacOf(inter: org.apache.spark.sql.DataFrame,
      n: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    inter
      .join(n.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jacExpr(col("inter"), col("na"), col("nb")).as("jac"))

  // ---- simhash ------------------------------------------------------

  // token hashes come from the native graft_token_hashes (one pass over
  // the text bytes, no per-token string allocation)

  // 64 bit-votes per doc via the native graft_simhash_bits expression
  // (one fused codegen loop; see graft.functions.SimhashBits).

  /** Pack bit-slices into 4 16-bit band values (arithmetic only — no
    * variable shifts, which the HOF lambda can't express). */
  private def simhashBands(bits: Column): Column =
    transform(sequence(lit(0), lit(3)), g =>
      aggregate(slice(bits, g * 16 + 1, lit(16)), lit(0L),
        (acc, x) => acc * 2 + x))

  // ---- IVF bucket assignment (shared by knn_ivf and dedup_embcos) ---

  private def cosc(s: org.apache.spark.sql.SparkSession,
      a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine(s, a, b)

  /** Nearest-centroid assignment as a PURE MAP-SIDE argmax: the k
    * centroids broadcast as ONE array-of-structs row, and each vector
    * picks its bucket via an array_max over per-centroid (rounded cos,
    * -c_id) structs — ties to the lowest c_id, exactly the previous
    * semantics.
    *
    * Precondition: `cents` is NON-EMPTY whenever `vs` is — array_max
    * over an empty centroid list would emit a NULL bucket per vector (a
    * phantom group downstream), where the old join formulation emitted
    * zero rows. ivfAssign guarantees it: seeds = the k lowest vec_ids of
    * the same table `vs` scans (both engines' documented dense-0-based
    * vec_id convention), so seeds are empty only when `vs` is. The round-4 join+groupBy formulation exploded n×k rows
    * each carrying the full embedding and SHUFFLED them through a
    * per-vector hash agg — twice per k-means pass; this shape never
    * shuffles at all (the argmax runs where the vector already lives),
    * which is also the only assignment plan that holds at 100 TB. */
  private def nearestBucket(s: org.apache.spark.sql.SparkSession,
      vs: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    vs.crossJoin(broadcast(
        cents.agg(collect_list(struct(col("c_id"), col("cv"))).as("cs"))))
      .select(col("vec_id"), col("v"),
        array_max(transform(col("cs"), c =>
          struct(round(cosc(s, col("v"), c.getField("cv")), 6).as("c"),
            (-c.getField("c_id")).as("nc")))).as("m"))
      .select(col("vec_id"), col("v"), (-col("m.nc")).as("bucket"))

  /** IVF bucket per vector: one k-means iteration from deterministic
    * seeds (the k lowest vec_ids) — assign to seeds, recompute each
    * centroid as the element-wise bucket mean, re-assign. Means
    * accumulate in DECIMAL(20,8) of the 8-dp-rounded components, so the
    * sum is exact, order-independent across partitions, and
    * bit-identical to the DuckDB oracle. At 100 TB: same two scans +
    * one tiny broadcast per k-means round.
    *
    * k GROWS WITH THE CORPUS: k = max(8, ⌊√(n/8)⌋), computed from a
    * 1-row count aggregate broadcast into the seed filter (no driver
    * action, no collect) — so bucket population n/k and candidate-pair
    * work n²/k both scale sub-linearly instead of exploding with a
    * fixed k. The oracle computes the identical expression in SQL. */
  private[graft] def ivfAssign(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    nearestBucket(s, e, ivfCentroids(s, e))

  /** The trained coarse-quantizer itself — `(c_id, cv)` after the one
    * k-means refinement pass. Exposed separately from `ivfAssign` so a
    * multi-probe searcher can rank centroids per query against the SAME
    * model the corpus was bucketed with. */
  /** Content-keyed materialization of the TRAINED quantizer — the IVF
    * index-build step of a production ANN system, which trains once
    * per corpus version and serves every searcher from the same model
    * (the property the multi-probe scaladoc below already requires:
    * corpus and queries must rank against the SAME model). Keyed on
    * the embeddings parquet footers; the k-means result is
    * deterministic (decimal-exact means, fixed seeds), so reading the
    * table is bit-identical to retraining. Assignment itself stays a
    * per-query map-side transform over the broadcast centroids.
    * Rooted at [[Artifacts]] (shared storage when
    * `spark.graft.artifactRoot` is set; per-JVM tmpdir otherwise). */
  private def embFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def ivfCentroidsTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Artifacts.parquet(s, "ivf",
      Snapshot.of(Seq(s"$d/embeddings.parquet")))(
      ivfCentroids(s, embFrame(s, d)))

  private[graft] def ivfCentroids(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val kDf = e.agg(greatest(lit(8L),
      floor(sqrt(count(lit(1)).cast("double") / 8))).as("k"))
    val seeds = e.crossJoin(broadcast(kDf))
      .where(col("vec_id") < col("k"))
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val a0 = nearestBucket(s, e, seeds)
    a0.select(col("bucket"), posexplode(col("v")))
      .groupBy("bucket", "pos")
      .agg((sum(round(col("col"), 8).cast("decimal(20,8)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("bucket")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("bucket").as("c_id"),
        transform(col("pm"), x => x.getField("m")).as("cv"))
  }

  // ---- connected components (shared by llm_dedup_clusters) ----------

  /** Diagnostic only (read by the scale-rehearsal harness after a
    * clusters run): how many contraction rounds the last
    * connectedComponents call ON THIS THREAD took to drain its edge
    * set. Thread-local because concurrent cluster builds for different
    * corpus dirs are allowed (per-snapshot locks) and must not race on
    * a shared diagnostic. */
  private val ccRounds: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(-1))
  private[graft] def lastCcRounds: Int = ccRounds.get()
  private[graft] def lastCcRounds_=(v: Int): Unit = ccRounds.set(v)

  /** Connected components over an undirected pair list (doc_a < doc_b):
    * one (doc_id, label) row per vertex appearing in a pair, label = the
    * component's minimum doc_id. Boruvka-style contraction — hook every
    * vertex to min(self, min neighbor), POINTER-JUMP the hook forest
    * three times (s := s(s); hooks never increase, so the forest is
    * acyclic and each jump halves the remaining depth), relabel the
    * originals, rewrite edges to the jumped endpoints, and LOOP UNTIL
    * THE EDGE SET IS EMPTY. Plain min-hooking contracts a path
    * component by only ~1 vertex per round, so any fixed round count
    * silently mislabels components whose diameter exceeds it (the
    * classic LSH transitive-chain shape at loose thresholds); the jump
    * step restores the O(log n) outer bound and the emptiness check +
    * require() makes non-convergence loud instead of wrong. Labels and
    * edges are tiny next to the corpus — the loop never shuffles
    * corpus-sized tables. Every per-round table lazily localCheckpoints:
    * each is read more than once downstream, so without lineage
    * truncation the analyzer — not execution — dominates (measured 61 s
    * vs 9 s at sf0.1 for the persist()-only variant); a multi-node
    * deployment uses reliable checkpoint() to HDFS instead.
    *
    * Contract: the returned labels retain NO lineage to `pairs` — the
    * final checkpoint is EAGER, so callers may unpersist the edge list
    * the moment this returns (clusterTable does). Without the eager
    * materialization a later refactor of the loop's count()/require()
    * could silently leave the result recomputing the whole upstream
    * pipeline after the caller's unpersist. */
  /** Drop a lazily-localCheckpointed frame's persisted blocks. The CC
    * loop checkpoints an |E|-row edge set EVERY round; without explicit
    * freeing the spent rounds' blocks linger until the ContextCleaner's
    * GC-driven sweep gets to them, and at ~36M edges (scale-rehearsal
    * ×30) the accumulated ~2 GB/round of deserialized blocks squeezed
    * the store hard enough to turn a 3-round loop from ~linear to 6.6×
    * super-linear on the 10×→30× segment (measured: 99.6 s → see
    * BENCH_LOG round 12). Freeing is only legal once nothing will read
    * the checkpoint again — a localCheckpoint CANNOT be recomputed (its
    * lineage is gone), so callers must free strictly spent rounds. */
  private def freeLocalCheckpoint(
      df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }

  /** `dedupePerRound`: collapse the rewritten edge multiset to its
    * distinct support each round. Contraction multiplies parallel
    * edges by the density of the hooked clusters — on the DENSE trade
    * graph the ×30 rehearsal's 36M-row multiset stays 36M rows per
    * round without it (measured 109→91 s with it), while on the
    * SPARSE near-dup pair graphs the collapse recovers almost nothing
    * and the extra keyed shuffle per round is pure cost (clusters
    * +1.5-2 s at sf0.1). Callers pick by graph shape: Graph.scala's
    * trade-graph CC passes true, the dedup cluster build keeps
    * false. */
  private[graft] def connectedComponents(
      pairs: org.apache.spark.sql.DataFrame,
      dedupePerRound: Boolean = false): org.apache.spark.sql.DataFrame = {
    val initialEdges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(false)
    var edges = initialEdges
    var lab = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    var remaining = edges.count()
    var round = 0
    // spent-round bookkeeping: round-k edges (k ≥ 1) are read only by
    // round-k+1's build — freeable as soon as the next round
    // materializes. The INITIAL edges and every round's sup table stay
    // pinned: `lab` is built lazily against them and only materializes
    // at the final eager checkpoint below.
    var prevEdges: org.apache.spark.sql.DataFrame = null
    var sups: List[org.apache.spark.sql.DataFrame] = Nil
    // 40 rounds ≫ log2 of any physical component count; hitting the cap
    // means a bug, and the require below turns it into a loud failure.
    while (remaining > 0 && round < 40) {
      round += 1
      // hook: every current vertex -> min(self, min neighbor). Both edge
      // directions are present, so every hook target is itself hooked.
      val hook = edges.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src").as("v"), least(col("src"), col("mn")).as("s"))
        .localCheckpoint(false)
      var sup = hook
      // pointer jumping, 3 fixed applications of s := s(s): compresses
      // hook chains 8× per outer round with NO extra Spark action (a
      // counted jump-until-fixed inner loop cost one job per jump and
      // dominated the wall clock). Full compression isn't required for
      // correctness — edges and labels rewrite through the SAME mapping
      // and s(v) ≤ v keeps each component's minimum a fixed point, so
      // partial jumping only sets the contraction rate; the outer
      // emptiness check still decides convergence. The jump joins
      // compose WITHOUT intermediate checkpoints: each reads the hook
      // checkpoint twice, so the composed plan has 2³ cheap
      // checkpoint-scan leaves — bounded (it is per-ROUND lineage
      // doubling that must be truncated, and the checkpoint below does)
      for (_ <- 1 to 3) {
        sup = sup
          .join(sup.select(col("v").as("s"), col("s").as("s2")), Seq("s"))
          .select(col("v"), col("s2").as("s"))
      }
      sup = sup.localCheckpoint(false)
      // original docs follow their vertex to the root it compressed to;
      // lab is read once per round, so it checkpoints only on return
      lab = lab.join(sup.select(col("v").as("label"),
            col("s").as("new_label")), Seq("label"), "left")
        .select(col("doc_id"),
          coalesce(col("new_label"), col("label")).as("label"))
      // contract: rewrite endpoints to roots, drop self-loops. No dedup
      // of parallel edges: contraction only merges rows, every
      // intra-component edge eventually becomes a self-loop and
      // vanishes, and skipping distinct() saves one shuffle per round.
      edges = edges
        .join(sup.select(col("v").as("src"), col("s").as("sa")), "src")
        .join(sup.select(col("v").as("dst"), col("s").as("sb")), "dst")
        .select(col("sa").as("src"), col("sb").as("dst"))
        .where(col("src") =!= col("dst"))
      edges = (if (dedupePerRound) edges.distinct() else edges)
        .localCheckpoint(false)
      remaining = edges.count()
      // the new round is materialized — the PREVIOUS round's edge
      // blocks (|E| rows) can never be read again; free them now
      // instead of waiting for the GC-driven ContextCleaner sweep
      if (prevEdges != null) freeLocalCheckpoint(prevEdges)
      // that same count() materialized the POST-JUMP sup checkpoint
      // (edges reads it twice), so the hook-stage checkpoint — read
      // only by the jump joins inside sup's plan — is spent too; one
      // |V|-row block set per round would otherwise linger until the
      // GC-driven ContextCleaner sweep
      freeLocalCheckpoint(hook)
      prevEdges = edges
      sups = sup :: sups
    }
    require(remaining == 0,
      s"connectedComponents: $remaining edges left after $round rounds")
    lastCcRounds = round
    // eager: one extra tiny job (labels are vertex-count rows) buys the
    // no-lineage-to-input contract documented above
    val out = lab.localCheckpoint(true)
    // labels are materialized — every remaining checkpoint (initial
    // edges, the last round's edges, all sup tables) is now spent
    freeLocalCheckpoint(initialEdges)
    if (prevEdges != null) freeLocalCheckpoint(prevEdges)
    sups.foreach(freeLocalCheckpoint)
    out
  }

  /** Connected-components algorithm dispatch, settled by the round-14
    * three-session interleaved median-of-5 A/B (BENCH_LOG round-14):
    * the min-hook + 3-jump loop wins at sf0.1 (medians 5.8/6.1/6.1 s
    * vs star 6.6/18.6/6.5 — its 2 contraction rounds beat star's
    * constant 4), the two tie at ×10 (19.8 vs 19.8), and STAR wins
    * ×30 in BOTH 64 GiB sessions (31.2/33.0 vs 41.4/51.9 medians,
    * with star's non-outlier samples clustered at 29-34 s while hook
    * spreads 32-108 s) — the hook's contraction rewrite cost grows
    * with edge multiplicity on dense graphs while star's
    * distinct()-collapsed rounds stay ~linear in |E|. So the dispatch
    * takes one count of `pairs` and picks hook below
    * `spark.graft.ccAutoEdges`, star above. THE UNIT IS ROWS OF
    * `pairs` (undirected candidate pairs, half the directed edge
    * count): the round-14 A/B tied at ×10 = 6M pairs and star won at
    * ×30 = 18M pairs; the round-15 probe AT the old 12M midpoint
    * (×20 = 12.0M pairs, interleaved median-of-5 under 64 GiB) came
    * back hook 24.1 s vs star 32.3 s — a clear hook win, so the
    * crossover lies in (12M, 18M] and the default threshold is 15M,
    * the midpoint of the TIGHTENED band in pair units. Callers pass a
    * materialized or cheap-to-rescan `pairs` (both call sites do: the
    * persisted dedup pair list, the parquet-artifact-backed trade
    * graph), so the dispatch count never re-runs an expensive
    * pipeline. */
  private[graft] def componentsAuto(s: org.apache.spark.sql.SparkSession,
      pairs: org.apache.spark.sql.DataFrame,
      dedupePerRound: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val thresh = s.conf.getOption("spark.graft.ccAutoEdges")
      .map(_.toLong).getOrElse(15000000L)
    if (pairs.count() > thresh) connectedComponentsStar(pairs)
    else connectedComponents(pairs, dedupePerRound)
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    * the two-phase large-star/small-star algorithm; same (doc_id,
    * label=component min) contract as [[connectedComponents]]).
    * Round-14 A/B candidate against the min-hook + 3-jump loop, whose
    * ×30 segment scales super-linearly on the dense trade graph
    * (round-13 watch item).
    *
    *  - large-star: every node u links its LARGER neighbors to
    *    m = min(N(u) ∪ {u}) — edges (v→m) for v > u.
    *  - small-star: every node u links its SMALLER neighbors and
    *    itself to m = min of that set — the forest edges.
    *
    * Alternating the two converges to one star per component centered
    * at the component MINIMUM in O(log² n) rounds; unlike the
    * contraction loop the edge set never drains — convergence is
    * detected by a stable (count, dual-modulus hash sum) signature,
    * two independent 61-bit-range sums making a false fixed point
    * astronomically unlikely (and the equivalence spec + oracle pin
    * semantics). Each round's edge set is distinct()-collapsed — the
    * algorithm's own dedup discipline — and lazily localCheckpointed
    * with the previous round freed, the same block-residency hygiene
    * the hook loop needed at ×30. */
  private[graft] def connectedComponentsStar(
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val vertices = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct().localCheckpoint(false)
    var edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct().localCheckpoint(false)
    def signature(e: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        sum(pmod(xxhash64(col("src"), col("dst")), lit(1000000007L))),
        sum(pmod(xxhash64(col("dst"), col("src")), lit(998244353L))))
        .first()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    def largeStar(e: org.apache.spark.sql.DataFrame) = {
      val bidir = e.union(e.select(col("dst").as("src"),
        col("src").as("dst")))
      val mins = bidir.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      bidir.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }
    def smallStar(e: org.apache.spark.sql.DataFrame) = {
      val dir = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
      dir.join(mins, "u")
        .select(col("v").as("src"), col("m").as("dst"))
        .union(mins.select(col("u").as("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
    }
    var sig = signature(edges)
    var round = 0
    var converged = false
    var prev: org.apache.spark.sql.DataFrame = null
    while (!converged && round < 40) {
      round += 1
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nextSig = signature(next)
      if (prev != null) freeLocalCheckpoint(prev)
      prev = edges
      edges = next
      converged = nextSig == sig
      sig = nextSig
    }
    require(converged,
      s"connectedComponentsStar: no fixed point after $round rounds")
    lastCcRounds = round
    // at the fixed point every edge is (v → component min); centers
    // have no outgoing edge and label themselves
    val out = vertices
      .join(edges.select(col("src").as("doc_id"), col("dst").as("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("label"))
      .localCheckpoint(true)
    freeLocalCheckpoint(vertices)
    if (prev != null) freeLocalCheckpoint(prev)
    freeLocalCheckpoint(edges)
    out
  }

  /** The cluster table is built ONCE per (root, input snapshot) and
    * shared: `llm_dedup_clusters` and `llm_dedup_prune` are independent
    * contract keys over the same table, and rebuilding the
    * shingle→pairs→CC pipeline for each doubled the dedup tail of every
    * full run. The cache is a MATERIALIZED PARQUET TABLE under
    * [[Artifacts]] — the lakehouse write a multi-node deployment does
    * (point `spark.graft.artifactRoot` at shared storage; the unset
    * default is the per-JVM tmpdir) — which fixes three problems the
    * round-6 localCheckpoint cache had: (a) the path is keyed on a
    * snapshot of the input files, so rewriting the documents table can
    * never serve stale clusters; (b) the artifact is on reliable
    * storage, so a lost executor block cannot brick the cached frame
    * (re-reading the file always works); (c) the build runs under the
    * store's lock with a temp-then-rename publish, so a racing second
    * builder orphans nothing. */

  /** Fingerprint of the documents table under `d` (see [[Snapshot]]
    * for the footer-keyed scheme and its 100 TB cost bound). */
  private[graft] def docsSnapshot(d: String): String =
    Snapshot.of(Seq(s"$d/documents.parquet"))

  /** input dir → its current snapshot key, for pruning superseded cache
    * entries (a rewrite mints a new key; the old one is dead unless
    * another dir still maps to it). */
  private val currentClusterKey =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def clusterTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val key = docsSnapshot(d)
    // claim the key for this dir BEFORE building: a concurrent
    // clusterTable on another dir with identical content (same key)
    // sees the claim in containsValue below and won't prune mid-build
    val old = currentClusterKey.put(d, key)
    val table = Artifacts.parquet(s, "clusters", key)(
      buildClusterTable(s, d))
    // prune the snapshot this rewrite orphaned — the old key is never
    // read again, so without this the cache (and at one lock per key,
    // the store's lock map) grows per corpus rewrite, forever. The
    // store takes the OLD key's own lock (never nested inside the new
    // key's — no lock-order cycle) and the claim map is re-checked
    // inside it, so a racing builder that re-claimed the key is never
    // pruned. Shared-root mode skips pruning entirely (peers in other
    // JVMs may be mid-read; retention is an ops policy there — see
    // Artifacts.deleteIf). Contract (same as the stream artifacts):
    // lazy DataFrames obtained against a corpus that is then REWRITTEN
    // reference data that no longer exists and must not be executed
    // after the rewrite.
    if (old != null && old != key) {
      Artifacts.deleteIf(s, "clusters", old)(
        !currentClusterKey.containsValue(old))
      ()
    }
    table
  }

  /** Force the content-keyed dedup-cluster chain (shingle index → LSH
    * pairs → CC labels → cluster table) to materialize — the round-20
    * optimization round's parallel build phase calls this so the build
    * overlaps the table-artifact chains instead of billing whichever
    * family key runs first alphabetically (clusterTable's own build
    * touches the shingle index, so one call covers both artifacts). */
  private[graft] def materializeClusterArtifacts(
      s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    clusterTable(s, d); ()
  }

  /** Same phase seam for the IVF centroid table (llm_dedup_embcos /
    * llm_knn_ivf / llm_semdedup ride the broadcast centroids). */
  private[graft] def materializeIvfArtifacts(
      s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    ivfCentroidsTable(s, d); ()
  }

  /** doc_id → (cluster_id, cluster_size) over the whole corpus: capped-
    * index Jaccard pairs at `JacCluster` feed connectedComponents; docs
    * in no pair rejoin as singletons via the left join (the loop never
    * shuffles corpus-sized tables — only the tiny edge/label graph
    * iterates). */
  private def buildClusterTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // idx feeds the self-join's two sides AND the set-size count; n is
    // read by two joins — persist both for the CC loop's lifetime (this
    // op runs its own actions, so persist→action→unpersist applies)
    val idx = shingleIndexTable(s, d).persist()
    val n = cappedSetSizes(idx).persist()
    val pairs0 = jacOf(candidatePairs(idx), n)
      .where(col("jac") >= JacCluster)
      .select(col("doc_a"), col("doc_b"))
    // The edge list is TINY next to the corpus (near-dups are the
    // exception) and the CC loop references it repeatedly — persist so
    // the shingle/index pipeline above runs once.
    val pairs = pairs0.persist()
    // auto dispatch: the dispatch count doubles as the persist's
    // materializing action; tiny LSH pair lists take the hook loop,
    // a 100 TB corpus whose candidate graph crosses ccAutoEdges takes
    // star contraction (see componentsAuto)
    val lab = componentsAuto(s, pairs)
    // the CC loop's first action has materialized the edge list (and
    // connectedComponents returns with no lineage to it — its contract),
    // so the whole index pipeline can release its blocks here
    pairs.unpersist(blocking = false)
    idx.unpersist(blocking = false)
    n.unpersist(blocking = false)
    val full = t(s, d, "documents").select(col("doc_id"))
      .join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    // component sizes from the (tiny) label table: lab holds every
    // vertex that appears in a pair, so labeled-cluster sizes are its
    // per-label counts and everything else is a singleton — counting
    // over `full` instead would re-run the corpus scan + label join a
    // second time
    val sz = lab.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    full.join(sz, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
  }

  // ---- language-ID marker sets (deterministic scoring ladder) -------

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "es"),
    "fr" -> Seq("le", "la", "et", "est"),
    "de" -> Seq("der", "und", "das", "ist"))

  private def markerScore(c: Column, markers: Seq[String]): Column =
    size(filter(toks(c), x =>
      markers.map(m => x === m).reduce(_ || _)))

  // ---- curation seam (shared by the batch ops and the streaming
  // curation gate, Streams.curationGateStream) -----------------------

  /** Distinct 3-gram shingle hashes of a benchmark/eval corpus — the
    * (fixed-size, broadcastable) probe set for contamination checks. */
  private[graft] def benchShingles(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(explode(graft.functions.VectorFunctions
      .shingleHashes3(docs.sparkSession, col("text"))).as("h")).distinct()

  /** Score (doc_id, text) rows against a benchmark shingle set `bench`
    * (one `h` column): per-doc shared-shingle hits, overlap fraction,
    * contaminated flag. Map-side explode + broadcast probe; the only
    * shuffle is the per-doc count over matching rows. */
  private[graft] def contaminationScored(
      train: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sh = graft.functions.VectorFunctions
      .shingleHashes3(train.sparkSession, col("text"))
    // the shingle arrays feed both the probe explode and the set-size
    // projection — hash once (OpCache-tracked; callers release)
    val t2 = OpCache.track(train.select(col("doc_id"), sh.as("shs")))
    val hits = t2.select(col("doc_id"), explode(col("shs")).as("h"))
      .join(broadcast(bench), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    t2.select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_shingles"), 4).as("overlap_frac"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Per-doc repetition metrics over (doc_id, text) rows: duplicate-word
    * and duplicate-bigram fractions plus the keep verdict. Pure map-side
    * array math, STAGED so each non-cheap array builds once per row:
    * higher-order functions evaluate interpreted (no codegen), and a
    * single select that mentions `split(text)` N times re-runs the split
    * N times per row in that mode. Materializing `tk`/`bg` as columns
    * makes every later mention a free attribute read (CollapseProject
    * keeps non-cheap aliases referenced more than once). Measured 7.3 s
    * → sub-second on the sf0.1 bench for identical output. */
  private[graft] def repetitionScored(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val n = size(col("tk"))
    // bigram j (1-based) = tk[j] ++ tk[j+1]: zip each word (all but the
    // last) with its right neighbor — no per-element lookback into the
    // outer array from inside the lambda
    val bg = zip_with(slice(col("tk"), lit(1), n - 1),
      slice(col("tk"), lit(2), n - 1), (a, b) => concat_ws(" ", a, b))
    val dupW = round(lit(1.0) -
      size(array_distinct(col("tk"))).cast("double") / size(col("tk")), 4)
    val dupB = when(size(col("bg")) > 0, round(lit(1.0) -
      size(array_distinct(col("bg"))).cast("double") / size(col("bg")), 4))
      .otherwise(lit(0.0))
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), bg.as("bg"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_words"),
        dupW.as("dup_word_frac"), dupB.as("dup_bigram_frac"))
      .withColumn("keep",
        col("dup_word_frac") <= 0.3 && col("dup_bigram_frac") <= 0.2)
  }

  /** Maximal duplicated-substring runs per doc (the suffix-array dedup
    * genre, e.g. "Deduplicating Training Data Makes Language Models
    * Better"-style span detection, done the distributed way): a token
    * K-gram occurring >= 2 times ANYWHERE in the corpus marks its start
    * position as duplicated; maximal runs of consecutive duplicated
    * starts are the duplicated substrings (a run [i..j] spans tokens
    * i .. j+K-1 — exactly the union of its duplicated K-grams). Plan
    * shape: map-side explode into (doc, pos, gram), PARTIAL-AGGREGATED
    * gram counts (groupBy(g).count — map-side combine collapses
    * boilerplate grams before the shuffle) filtered to the hot set
    * (c >= 2), then a LEFT SEMI equi-join of the gram table against
    * that hot set, then a doc-keyed window to merge adjacent starts
    * (bounded by doc length, never by corpus size). A window over
    * partitionBy(g) would compute the same count but with no partial
    * aggregation and a full per-gram partition materialization+sort —
    * one boilerplate line duplicated 10⁵× funnels 10⁵ rows through
    * one task; the agg+semi-join shape keeps the reduce side at one
    * row per distinct gram and lets AQE split/broadcast the probe.
    * The gram table feeds both sides, so it is cached (OpCache-
    * tracked); at 100 TB it is the persisted intermediate of this
    * two-pass genre. The only other change at 100 TB is shuffling
    * xxhash64(gram) (8-byte keys; a collision marks a non-duplicated
    * span, the tolerable error in this genre) instead of gram
    * strings — the structure is identical.
    * K = `SubstrK` whitespace tokens. Columns: doc_id, run_start,
    * run_end, run_len (1-based inclusive token indices). */
  private def substrRuns(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val K = SubstrK
    val rw = Window.partitionBy("doc_id").orderBy("p")
    val grams = OpCache.track(t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= K)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - (K - 1))).as("pi"))
      .select(col("doc_id"), col("pi").cast("long").as("p"),
        concat_ws(" ", slice(col("ws"), col("pi"), lit(K))).as("g")))
    val hot = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select("g")
    grams.join(hot, Seq("g"), "left_semi")
      .withColumn("grp", col("p") - row_number().over(rw))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("p")).as("run_start"),
        (max(col("p")) + (K - 1)).as("run_end"),
        (max(col("p")) - min(col("p")) + K).as("run_len"))
      .select(col("doc_id"), col("run_start"), col("run_end"),
        col("run_len"))
  }

  val queries: Map[String, Q] = Map(
    // Near-dup detection by exact n-gram Jaccard, computed via the
    // DF-CAPPED INVERTED-INDEX join (the exact set-similarity-join
    // shape): explode each doc's shingle-hash set, drop boilerplate
    // shingles hotter than ShingleDfCap, equi-self-join on the hash, and
    // |A∩B| = the per-pair co-occurrence count. The pair space is driven
    // by SHARED CONTENT (Σ_h min(df(h), cap)² rows, df≈1 for
    // natural-text shingles), not by all-pairs within a block; `source`
    // equality is just part of the (high-cardinality) join key. Pairs
    // sharing zero kept shingles have jac = 0 < threshold, so the result
    // is IDENTICAL to the all-pairs formulation over the capped sets the
    // oracle computes (and to the uncapped one whenever no shingle
    // exceeds the cap — true of the natural-text fixtures).
    "llm_dedup_ngram_jaccard" -> ((s, d) => {
      // the index feeds both self-join sides and the set-size count; the
      // sizes feed two pair joins — cache both (OpCache-tracked)
      val idx = OpCache.track(shingleIndexTable(s, d))
      val n = OpCache.track(cappedSetSizes(idx))
      jacOf(candidatePairs(idx), n)
        .where(col("jac") >= JacNearDup)
        .orderBy("doc_a", "doc_b")
    }),

    // INCREMENTAL cross-corpus dedup — the production dedup shape: each
    // NEW shard is deduped against the already-RETAINED corpus
    // (asymmetric: new docs are candidates, retained docs are the canon
    // and never re-cluster or flip status). The "new shard" here is the
    // newest tenth of doc ids (arrival order — the cut joins in as a
    // 1-row broadcast aggregate, no driver action); a deployment passes
    // its own shard predicate. Candidates come from the same df-capped
    // shingle inverted index, equi-joined new⋈retained on (h, source) —
    // at 100 TB the retained index is the persisted artifact each
    // arriving shard joins against, and only the (small) new shard's
    // shingles shuffle. Each new doc keeps or drops with its best
    // retained match (highest Jaccard, ties to the lowest doc_id).
    "llm_dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cut = docs.agg(floor(max(col("doc_id")) * 0.9).as("cut"))
      val idx = OpCache.track(shingleIndexTable(s, d))
      val n = OpCache.track(cappedSetSizes(idx))
      val withCut = idx.crossJoin(broadcast(cut))
      val newIdx = withCut.where(col("doc_id") > col("cut")).drop("cut")
      val retIdx = withCut.where(col("doc_id") <= col("cut")).drop("cut")
      val newIds = docs.select(col("doc_id")).crossJoin(broadcast(cut))
        .where(col("doc_id") > col("cut")).drop("cut")
      shardVsRetained(newIdx, n, retIdx, n, newIds)
        .orderBy("doc_id")
    }),

    // EXACT SUBSTRING-level dedup — duplicated-span DETECTION (full
    // semantics + plan shape on `substrRuns` above).
    "llm_dedup_substring" -> ((s, d) =>
      substrRuns(s, d).orderBy("doc_id", "run_start")),

    // The ACTIONABLE half of substring dedup: REMOVE every duplicated
    // span from every doc (the conservative form of the suffix-dedup
    // genre's cut step — all occurrences go, not all-but-one, so no
    // cross-doc ordering is needed and the op stays one extra equi
    // anti-join past the run detection). Kept tokens re-assemble in
    // position order via one doc-keyed sort-agg; docs too short to form
    // grams, or with no duplicated span, pass through whole; a doc that
    // is ENTIRELY duplicated text comes out empty (and countable via
    // n_dropped = n_tokens).
    "llm_dedup_substring_prune" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
          col("col").as("tok"))
      val runs = substrRuns(s, d)
        .select(col("doc_id"), col("run_start"), col("run_end"))
      val kept = toks.join(runs,
        toks("doc_id") === runs("doc_id") &&
          col("p") >= col("run_start") && col("p") <= col("run_end"),
        "left_anti")
      // re-anchor on the full corpus: a doc whose every token sits in a
      // duplicated span has NO kept rows and must still surface (with
      // empty clean_text and n_dropped = n_tokens)
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            array_join(transform(
              array_sort(collect_list(struct(col("p"), col("tok")))),
              x => x.getField("tok")), " ").as("clean_text")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
            .as("n_dropped"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup: 64-bit signature, 4×16-bit bands for candidate
    // generation, exact Hamming distance on candidates only.
    // Oracle-exempt (hash-function specific); property-tested.
    "llm_dedup_simhash" -> ((s, d) => {
      val computed = t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.VectorFunctions.tokenHashes(s, col("text"))
            .as("hs"))
        .select(col("doc_id"),
          simhashBands(graft.functions.VectorFunctions
            .simhashBits(s, col("hs"))).as("bands"))
      // Cache the (tiny) signature table so the band self-join doesn't
      // execute the whole signature pipeline twice. persist() is LAZY —
      // constructing this DataFrame does no I/O (the round-2 eager
      // write+re-read violated the unexecuted-builder contract). At
      // 100 TB the signatures live in a persistent store the dedup job
      // reads; within one job, cache is the right mechanism. Tracked in
      // OpCache so library callers can release without clearCache.
      val sigs = OpCache.track(computed)
      val bands = sigs
        .select(col("doc_id"), col("bands"), posexplode(col("bands")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
      // Hamming distance straight off the packed 16-bit band values:
      // 4 × bit_count(xor) — no 64-element array comparison per pair.
      val hamming = (0 until 4).map(i =>
        bit_count(element_at(col("ba"), i + 1)
          .bitwiseXOR(element_at(col("bb"), i + 1))))
        .reduce(_ + _)
      bands.select(col("doc_id").as("doc_a"), col("band"),
          col("band_val"), col("bands").as("ba"))
        .join(bands.select(col("doc_id").as("doc_b"), col("band"),
          col("band_val"), col("bands").as("bb")), Seq("band", "band_val"))
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), hamming.cast("long").as("hamming"))
        // ≤6 of 64 bits differing ≈ true near-dups; looser thresholds on
        // a same-domain corpus explode the candidate set (measured 213k
        // pairs at ≤16 on the sf0.1 fixture)
        .where(col("hamming") <= 6)
        .distinct()
        .orderBy("doc_a", "doc_b")
    }),

    // Embedding-cosine near-dup: candidate pairs blocked by the IVF
    // bucket (the trained coarse-quantization cell from ivfAssign — the
    // same structure llm_knn_ivf searches), top-3 most-similar pairs per
    // bucket. Pair count is n²/k per bucket with k buckets; k scales
    // with corpus size, so no fixed low-cardinality attribute (round 2
    // blocked on `label`) caps the parallelism or blows up the pairs.
    "llm_dedup_embcos" -> ((s, d) => {
      val e = embFrame(s, d)
      // lazy cache (OpCache-tracked): the bucket self-join would
      // otherwise run the map-side assignment per join side; centroids
      // come from the materialized trained quantizer (ivfCentroidsTable)
      val assigned = OpCache.track(nearestBucket(s, e, ivfCentroidsTable(s, d)))
      val cos = round(cosc(s, col("a_v"), col("b_v")), 4)
      val w = Window.partitionBy("bucket")
        .orderBy(col("cos").desc, col("doc_a"), col("doc_b"))
      assigned.select(col("bucket"), col("vec_id").as("doc_a"),
          col("v").as("a_v"))
        .join(assigned.select(col("bucket"), col("vec_id").as("doc_b"),
          col("v").as("b_v")), "bucket")
        .where(col("doc_a") < col("doc_b"))
        .select(col("bucket"), col("doc_a"), col("doc_b"), cos.as("cos"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .orderBy("bucket", "rk")
    }),

    // IVF-style ANN (the similarity-search scale path): one k-means-lite
    // round trains centroids from deterministic seeds, vectors land in
    // their nearest bucket, and each query scans only its probed
    // buckets — the corpus-side work drops by ~(K/probes)×. MULTI-PROBE
    // (round 9): each query probes its 2 NEAREST centroids, so a query
    // sitting on a cell boundary no longer misses true neighbors just
    // across it — the standard IVF nprobe>1 recall lever. Probe ranking
    // is the same broadcast-centroids map-side transform as assignment
    // (probe 1 IS the single-probe bucket, so the candidate set only
    // grows); a corpus vector lives in exactly one bucket, so the
    // 2-bucket union introduces no duplicate candidates.
    "llm_knn_ivf" -> ((s, d) => {
      val e = embFrame(s, d)
      // lazy cache (OpCache-tracked): the centroid table feeds both the
      // corpus assignment and the query probe ranking
      val cents = OpCache.track(ivfCentroidsTable(s, d))
      val assigned = OpCache.track(nearestBucket(s, e, cents))
      val q = e.where(col("vec_id") < 5)
        .crossJoin(broadcast(cents
          .agg(collect_list(struct(col("c_id"), col("cv"))).as("cs"))))
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          explode(slice(reverse(array_sort(transform(col("cs"), c =>
            struct(round(cosc(s, col("v"), c.getField("cv")), 6).as("c"),
              (-c.getField("c_id")).as("nc"))))), 1, 2)).as("m"))
        .select(col("q_id"), col("qv"), (-col("m.nc")).as("bucket"))
      val wTop = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("vec_id"))
      q.join(assigned, "bucket")
        .where(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          round(cosc(s, col("qv"), col("v")), 4).as("cos"))
        .withColumn("rk", row_number().over(wTop))
        .where(col("rk") <= 3)
        .select(col("q_id"), col("rk"), col("vec_id"), col("cos"))
        .orderBy("q_id", "rk")
    }),

    // Language-ID via marker-token scoring + CJK char detection: a
    // deterministic n-gram-heuristic ladder (fixture text is synthetic,
    // so the mechanism — not the accuracy — is what's verified).
    "llm_lang_id" -> ((s, d) => {
      val scored = langMarkers.foldLeft(t(s, d, "documents")) {
        case (df, (lang, markers)) =>
          df.withColumn(s"s_$lang", markerScore(col("text"), markers))
      }
      scored
        .withColumn("pred",
          when(col("text").rlike("[\\u4e00-\\u9fff]"), "zh")
            .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
              col("s_en") >= col("s_de"), "en")
            .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_de"), "es")
            .when(col("s_fr") >= col("s_de"), "fr")
            .otherwise("de"))
        .select(col("doc_id"), col("s_en"), col("s_es"), col("s_fr"),
          col("s_de"), col("pred"),
          (col("pred") === col("lang")).as("hit"))
        .orderBy("doc_id")
    }),

    // Quality scoring: stopword ratio, punctuation density, token-length
    // band, declared-length consistency → one [0,1] score per doc (the
    // filter stage of a training-data pipeline).
    // Unigram log-probability quality proxy (the CCNet-style LM
    // perplexity filter, with the corpus's own unigram model standing in
    // for the external LM): score = mean ln p(tok) over the doc; spammy
    // rare-token soup scores far below natural prose. Per-token logs are
    // ROUNDED TO 6 DECIMALS then accumulated in exact DECIMAL so the sum
    // is order-independent (a raw double sum would be shuffle-order
    // dependent); 6 decimals keeps the cross-engine libm-ulp boundary
    // probability at ~1e-10 per distinct count value (ulp/grid) while
    // losing nothing a quality cut can see. Plan shape: unigram counts
    // = one token
    // shuffle; the token→vocab equi join is the standard LM-scoring
    // shape (vocab ≪ corpus; AQE broadcasts when it fits); corpus total
    // joins in as a 1-row broadcast.
    "llm_perplexity_proxy" -> ((s, d) => {
      // the token explode feeds the fact side, the unigram counts, and
      // (via uni) the corpus total — tokenize once (OpCache-tracked)
      val tk = OpCache.track(t(s, d, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("tok")))
      val uni = tk.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val tot = uni.agg(sum(col("cnt")).as("total"))
      tk.join(uni, "tok").crossJoin(broadcast(tot))
        .select(col("doc_id"),
          round(log(col("cnt").cast("double") / col("total")), 6)
            .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("slp"))
        // the 4-dp average is computed in EXACT integer arithmetic
        // (micro-log units, half-away-from-zero division), because the
        // decimal sum / count can land exactly on a 4-dp rounding
        // boundary (e.g. -85.83125/25 = -3.43325) where double-round
        // and decimal-round disagree across engines — observed once in
        // 50k docs at the 10× rehearsal. m is positive micro-logs;
        // q = round-half-up(m / (100 n)) via (2m + 100n) div (200n),
        // truncating division on positive longs = floor in any engine.
        .select(col("doc_id"), col("n_tokens"),
          expr("-(CAST((CAST(-slp * 1000000 AS BIGINT) * 2 + " +
            "n_tokens * 100) DIV (n_tokens * 200) AS DOUBLE) / 10000.0)")
            .as("avg_logp"))
        .orderBy("doc_id")
    }),

    "llm_quality_score" -> ((s, d) => {
      // staged: the stop-word filter is an interpreted higher-order fn
      // and the ratios feed both their own output column AND the quality
      // blend — materialize the split, the filter count, and each ratio
      // once per row so no non-cheap expression evaluates twice
      val stopList = Seq("the", "of", "and", "is", "a", "to", "in")
      val stopRatio = col("n_stop").cast("double") / col("n_tk")
      // guarded: empty text would divide by zero (split('') is [''] so
      // the token-count divisors are always >= 1 and need no guard)
      val punctRatio = when(col("len") > 0,
        col("n_punct").cast("double") / col("len")).otherwise(0.0)
      val meanLen = (col("len") - col("n_tk") + 1).cast("double") / col("n_tk")
      val score =
        least(col("stop_ratio") * 5, lit(1.0)) * 0.4 +
          when(col("mean_tok_len").between(3.0, 12.0), 0.3).otherwise(0.0) +
          greatest(lit(1.0) - col("punct_ratio") * 10, lit(0.0)) * 0.3
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), length(col("text")).as("len"),
          toks(col("text")).as("tk"),
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")).as("n_punct"))
        .select(col("doc_id"), col("n_chars"), col("len"), col("n_punct"),
          size(col("tk")).as("n_tk"),
          size(filter(col("tk"),
            x => stopList.map(x === _).reduce(_ || _))).as("n_stop"))
        .select(col("doc_id"), col("n_chars"), col("len"),
          stopRatio.as("stop_ratio"), punctRatio.as("punct_ratio"),
          meanLen.as("mean_tok_len"))
        .select(col("doc_id"),
          round(col("stop_ratio"), 4).as("stop_ratio"),
          round(col("punct_ratio"), 4).as("punct_ratio"),
          round(col("mean_tok_len"), 4).as("mean_tok_len"),
          (col("n_chars") === col("len")).as("len_ok"),
          round(score, 4).as("quality"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens + a BPE-ish regex segmentation
    // (letter runs / digit runs / single other chars) + chars-per-token
    // (0.0 for empty text — guarded so the ratio is well-defined on both
    // engines rather than an engine-specific inf/NULL).
    "llm_token_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(toks(col("text"))).as("n_ws"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .as("n_bpe"),
          length(col("text")).as("len"))
        .select(col("doc_id"), col("n_ws"), col("n_bpe"),
          when(col("n_bpe") > 0,
            round(col("len").cast("double") / col("n_bpe"), 4))
            .otherwise(0.0).as("chars_per_tok"))
        .orderBy("doc_id")),

    // Training-shard MANIFEST (the step after curation/packing: cut the
    // corpus into fixed-token-budget shards and record what went
    // where): contiguous-in-doc_id ~400-token shards per source, each
    // manifest row carrying doc/token counts, the doc_id range, and an
    // order-INSENSITIVE content digest — md5 over the SORTED per-doc
    // md5s, so the shard hash is identical however partitions deliver
    // rows, and two manifests diff shard-by-shard. Shard assignment is
    // the token-offset prefix sum WITHIN each source (sources are the
    // parallel unit — one keyed window, the sessionization shape; a
    // single whale source would switch to the two-level chunked prefix
    // `stream_watermark_late` demonstrates). Shuffle carries 32-byte
    // hashes + counters, never text.
    "llm_shard_manifest" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(toks(col("text"))).cast("long").as("n_tok"),
          md5(col("text")).as("h"))
        .withColumn("off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("shard_id", expr("off div 400"))
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("doc_lo"), max(col("doc_id")).as("doc_hi"),
          md5(concat_ws("", array_sort(collect_list(col("h")))))
            .as("digest"))
        .orderBy("source", "shard_id")
    }),

    // BPE-EXACT tokenization companion to llm_token_count's regex
    // approximation: character-level start symbols folded through an
    // embedded toy merges table (the way a deployment broadcasts its
    // learned ranks), one greedy left-to-right pass per rank in rank
    // order — exact BPE, because a rank's merge product ("th") can
    // never re-form that rank's own pair, so a single pass per rank
    // reaches the fixpoint classic BPE iterates to. Bounded rounds by
    // construction; computed by the native one-pass graft_bpe_tokens
    // kernel (codegen'd, parity-tested against the HOF `aggregate`
    // spec `bpeApplyCol`) — pure map-side per-row CPU that scales
    // embarrassingly with executors, no shuffle except output order.
    // Oracle-exempt (DuckDB has no BPE); properties pinned in
    // LlmExtraSpec: hand-tokenized fixtures, kernel==HOF parity, and
    // corpus-wide lossless reconstruction (concat(tokens) == word).
    "llm_token_bpe" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(toks(col("text"))).cast("long").as("n_words"),
          graft.functions.VectorFunctions.bpeTokens(s, col("text"))
            .as("bpe"))
        .select(col("doc_id"), col("n_words"),
          size(col("bpe")).cast("long").as("n_bpe"),
          concat_ws(" ", slice(col("bpe"), 1, 12)).as("bpe_head"))
        .orderBy("doc_id")),

    // Document fingerprint: rolling 8-char window hashes, keep the min
    // (winnowing-lite) + distinct-window count. Oracle-exempt (xxhash64);
    // property: identical text ⇒ identical fingerprint. Computed by the
    // native one-pass RollingFp8 kernel — bit-identical to the HOF
    // formulation transform(sequence(..), i -> xxhash64(substr(text,i,8)))
    // + array_min/array_distinct (parity-tested in TextHashingSpec), but
    // with no per-window string/array allocation or interpreted lambda
    // dispatch: 3.6 s -> sub-second on the sf0.1 bench.
    "llm_fingerprint" -> ((s, d) => {
      // two-step select: `fp` is referenced twice below, so Catalyst's
      // CollapseProject keeps the single materialization
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.VectorFunctions.rollingFp8(s, col("text"))
            .as("fp"))
        .select(col("doc_id"),
          col("fp").getField("fp_min").as("fp_min"),
          col("fp").getField("fp_distinct").as("fp_distinct"))
        .orderBy("doc_id")
    }),

    // Duplicate-CLUSTER resolution: every dedup op above emits pairs; a
    // training-data pipeline needs pairs → connected components →
    // canonical-doc election (keep the min doc_id per component) before
    // it can actually drop rows. Edges are the inverted-index Jaccard
    // pairs at a loose 0.02 threshold; components come from
    // connectedComponents above (hook + pointer-jump contraction, looped
    // until the edge set is EMPTY — never a fixed round count).
    "llm_dedup_clusters" -> ((s, d) =>
      clusterTable(s, d)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("is_canon"))
        .orderBy("doc_id")),

    // The PRUNE stage the cluster table exists for: keep only each
    // cluster's canonical doc (min doc_id) and record how many
    // near-duplicates it absorbs — the row-dropping step that turns
    // dedup analysis into a smaller training corpus.
    "llm_dedup_prune" -> ((s, d) =>
      clusterTable(s, d)
        .where(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"), col("cluster_size"),
          (col("cluster_size") - 1).as("dup_dropped"))
        .orderBy("doc_id")),

    // TF-IDF top terms per doc (the keyword-extraction / relevance
    // stage): token explode → (doc, term) counts → term document
    // frequency → smoothed idf. The corpus size joins in as a 1-row
    // broadcast aggregate (no driver action); ranking uses the EXACT
    // integer keys (tf desc, df asc, term) so cross-engine order never
    // depends on float rounding — the rounded score is carried as a
    // value column only. All joins are equi on term/doc.
    "llm_tfidf" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = t(s, d, "documents").agg(count(lit(1)).as("nd"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df"), col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tf") * log((col("nd") + 1.0) / (col("df") + 1.0)), 4)
            .as("score"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"),
          col("df"), col("score"))
        .orderBy("doc_id", "rk")
    }),

    // RAG-style context chunking: each doc splits into overlapping
    // 32-token windows with stride 24 (8-token overlap) — the retrieval
    // pre-step that feeds embedding models. Pure map-side explode
    // (chunk count derives from the doc's own length); chunk text via
    // slice + join so no per-token rows ever materialize.
    "llm_chunk_overlap" -> ((s, d) => {
      val winSz = 32
      val stride = 24
      val words = split(col("text"), " ")
      t(s, d, "documents")
        .select(col("doc_id"), words.as("ws"), size(words).as("n"))
        .select(col("doc_id"), col("ws"), col("n"),
          explode(sequence(lit(0),
            greatest(ceil((col("n") - winSz).cast("double") / stride)
              .cast("int"), lit(0)), lit(1))).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * stride + 1).as("start_tok"),
          concat_ws(" ", slice(col("ws"), col("chunk_idx") * stride + 1,
            lit(winSz))).as("chunk"),
          least(col("n") - col("chunk_idx") * stride, lit(winSz))
            .as("chunk_len"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Sequence packing (the batching stage before training: concat docs
    // into fixed token-budget bins): next-fit by start offset — a doc
    // lands in the bin its cumulative start position falls in. Packing
    // is PER SOURCE SHARD (the window partitions on source), which is
    // both the production layout and what keeps the running sum off any
    // single task at corpus scale. Deterministic: doc_id order.
    "llm_pack_sequences" -> ((s, d) => {
      val budget = 2048
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("toks"))
        .withColumn("cum", sum(col("toks")).over(w))
        .select(col("doc_id"), col("source"), col("toks"),
          floor((col("cum") - col("toks")).cast("double") / budget)
            .cast("long").as("bin"))
        .orderBy("source", "doc_id")
    }),

    // PII scrubbing (the redaction stage every training-data pipeline
    // runs before release): email + phone patterns are counted and
    // replaced map-side. The fixture text is synthetic lowercase words,
    // so a deterministic PII suffix (doc-derived address + number) is
    // appended first — the redaction is then actually exercised and the
    // scrubbed text is verifiable byte-for-byte against the oracle.
    "llm_pii_scrub" -> ((s, d) => {
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\\\.[a-z]{2,}"
      val phoneRe = "\\\\b[0-9]{3}-[0-9]{4}\\\\b"
      t(s, d, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com or 555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
            .as("raw"))
        .select(col("doc_id"),
          size(expr(s"regexp_extract_all(raw, '$emailRe', 0)"))
            .as("n_email"),
          size(expr(s"regexp_extract_all(raw, '$phoneRe', 0)"))
            .as("n_phone"),
          expr(s"regexp_replace(regexp_replace(raw, '$emailRe', '[EMAIL]'), " +
            s"'$phoneRe', '[PHONE]')").as("scrubbed"))
        .orderBy("doc_id")
    }),

    // Corpus bigram vocabulary (the n-gram LM / tokenizer-training
    // pre-step): explode word bigrams, count globally, keep the top 100.
    // One hash-agg shuffle on the high-cardinality bigram key with
    // map-side partial counts, then TakeOrderedAndProject — no global
    // sort; the plan that holds when the vocabulary is billions of keys.
    "llm_ngram_counts" -> ((s, d) =>
      // `words` is projected ONCE before the transform: referencing
      // split(text) inside the lambda would lean on codegen subexpression
      // elimination to avoid re-tokenizing per element — O(L²) per doc
      // whenever CSE doesn't fire (interpreted fallback, codegen cache
      // pressure). The explicit projection makes the O(L) cost a plan
      // property, not an optimizer courtesy.
      t(s, d, "documents")
        .select(split(col("text"), " ").as("words"))
        .where(size(col("words")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("words")) - 1),
          i => concat_ws(" ", element_at(col("words"), i),
            element_at(col("words"), i + 1))))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(100)),

    // Deterministic train/val/test split (the sampling stage every
    // training-data pipeline ends with): a multiplicative-hash bucket
    // over doc_id → 80/10/10 split. Content-stable (same doc → same
    // split on every run and every cluster size — no RNG, no
    // partition-dependent sampling), pure map-side, and exactly
    // reproducible in any engine with 64-bit integer arithmetic.
    // Constants keep doc_id*1000003+12345 far below 2^63 (no overflow
    // under ANSI mode); at 100 TB swap doc_id for a content hash so
    // re-ingested corpora keep stable splits.
    "llm_sample_split" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          pmod(col("doc_id") * 1000003L + 12345L, lit(97)).as("bucket"))
        .select(col("doc_id"), col("n_chars"), col("bucket"),
          when(col("bucket") < 78, "train")
            .when(col("bucket") < 88, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")),

    // Frame sampling over binary media payloads (the video-frame /
    // audio-window extraction shape): up to 4 deterministic 64-byte
    // frame offsets per record, one output row per frame, feature =
    // the frame's lead byte (decode STUB — a real codec plugs into the
    // same explode-then-decode plan). Row explosion happens BEFORE the
    // per-frame work so decoding distributes across the cluster even
    // when single records are huge.
    "llm_multimodal_frames" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
          octet_length(col("text")).as("byte_len"))
        .where(col("byte_len") > 0)
        .select(col("doc_id"), col("payload"), col("byte_len"),
          explode(sequence(lit(0),
            least(floor((col("byte_len") - 1) / 64), lit(3)).cast("int"),
            lit(1))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"), col("byte_len"),
          expr("CAST(conv(hex(substring(payload, frame_idx*64+1, 1))," +
            " 16, 10) AS INT)").as("f_byte"))
        .orderBy("doc_id", "frame_idx")),

    // Binary multimodal plumbing: utf-8 payload bytes + typed metadata
    // through the mapPartitions decode pipeline (decode itself is the
    // deterministic STUB in Multimodal.decodeStub).
    "llm_multimodal_binary" -> ((s, d) =>
      Multimodal.decodeFeatures(
        Multimodal.toMedia(t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("modality"), col("byte_len"),
          col("f0"), col("f1"), col("f2"))
        .orderBy("doc_id")),

    // REAL multimodal decode — no stub anywhere on this path: each doc
    // gets a genuine PNG (dimensions + fill color are deterministic
    // doc_id arithmetic), encoded and decoded back with the JDK's
    // javax.imageio codec behind the same per-partition seam the stub
    // paths use. The oracle recomputes the expected features from the
    // arithmetic alone, so a decode returning anything but the true
    // pixels hash-mismatches. Pure map-side at any scale: encode and
    // decode both run where the row lives, zero shuffles.
    "llm_multimodal_image" -> ((s, d) =>
      Multimodal.decodeImages(
        Multimodal.toPngMedia(t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("px_r"), col("px_g"), col("px_b"))
        .orderBy("doc_id")),

    // REAL audio decode — the WAV mirror of llm_multimodal_image: each
    // doc gets a genuine RIFF/WAVE file (rate, frame count, and 16-bit
    // PCM samples are deterministic doc_id arithmetic), encoded and
    // parsed back with the JDK's javax.sound.sampled codec behind the
    // same per-partition seam. The oracle recomputes the expected
    // features from the arithmetic alone, so a decode returning
    // anything but the true samples hash-mismatches. Pure map-side at
    // any scale: zero shuffles.
    "llm_multimodal_audio" -> ((s, d) =>
      Multimodal.decodeAudio(
        Multimodal.toWavMedia(t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("n_frames"),
          col("s_first"), col("s_last"))
        .orderBy("doc_id")),

    // ---- corpus-curation trio (round 8): the standard passes a
    // training-data pipeline runs between dedup and packing ------------

    // Benchmark DECONTAMINATION — flag training docs sharing any 3-gram
    // shingle with a held-out benchmark/eval set, so eval answers leaked
    // into the crawl are dropped before training. The benchmark here is
    // the deterministic doc_id % 17 == 0 slice; a deployment passes its
    // own eval corpus. Scale shape: a benchmark set is FIXED-SIZE (eval
    // suites don't grow with the corpus), so its distinct shingle set
    // builds once and BROADCASTS; the 100 TB train side probes it
    // map-side (explode + broadcast hash join) and the only shuffle is
    // the per-doc hit count over the (tiny) matching rows. Contamination
    // is cross-source by design — an eval answer leaked via a different
    // crawl domain still contaminates.
    "llm_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      contaminationScored(docs.where(col("doc_id") % 17 =!= 0),
        benchShingles(docs.where(col("doc_id") % 17 === 0)))
        .orderBy("doc_id")
    }),

    // Intra-document REPETITION filter (the Gopher-style quality rule):
    // a crawl doc whose words/2-grams are mostly repeats of themselves
    // is boilerplate or spam — score the duplicate-word and
    // duplicate-bigram fractions and keep docs under both cuts. Pure
    // map-side array math (split → slice/transform → distinct) with no
    // shuffle except the output ordering; at 100 TB this pass fuses
    // into whatever scan precedes it.
    "llm_repetition_filter" -> ((s, d) =>
      repetitionScored(t(s, d, "documents")).orderBy("doc_id")),

    // DOMAIN-MIX balancing (the data-mixing step): deterministically
    // downsample over-represented sources to the smallest source's
    // volume so no crawl domain dominates the training mix. Per-source
    // rates come from one tiny count aggregate (|domains| rows, joined
    // back as a broadcast); the keep decision is the same LCG coin as
    // llm_sample_split — reproducible, driver-free, and map-side on the
    // data path, so at 100 TB the only shuffle is the domain-count
    // aggregate itself.
    "llm_domain_balance" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cnt = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      val target = cnt.agg(min(col("n_src")).as("target"))
      val rates = cnt.crossJoin(broadcast(target))
        .select(col("source"), col("n_src"),
          floor(lit(10000.0) * col("target") / col("n_src")).as("cut"))
      docs.join(broadcast(rates), "source")
        .select(col("doc_id"), col("source"), col("n_src"),
          (pmod(col("doc_id") * 1000003L + 12345L, lit(10000L)) < col("cut"))
            .as("keep"))
        .orderBy("doc_id")
    }),

    // Temperature-scaled domain MIXTURE weights (the data-mixing step a
    // training pipeline runs after curation): per source, sampling
    // weight ∝ n_tokens^α normalized over sources, α = 0.7 — upweights
    // tail domains relative to their natural token share without
    // flattening the mix to uniform (α=1 is natural sampling, α=0 is
    // uniform). `boost` = weight / natural_share is the oversampling
    // factor the sampler applies per domain. Complements
    // llm_domain_balance: balance CAPS head domains by dropping docs,
    // mixture REWEIGHTS without dropping anything.
    // Shape: one groupBy("source") scan of the corpus (the only
    // data-scale shuffle — |sources| ≪ |docs|), a broadcast 1-row total,
    // then map-side arithmetic over the tiny per-source table. At 100 TB
    // the per-source aggregate is partial-agg'd map-side; nothing else
    // grows with the corpus. Cross-engine determinism: pow is the only
    // transcendental — each term is rounded to 6 dp, and the normalizing
    // total accumulates those rounded terms in DECIMAL so it is exact
    // and order-independent; everything downstream is IEEE-identical
    // +,*,/ on identical inputs.
    "llm_mixture_weights" -> ((s, d) => {
      val per = t(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks(col("text"))).cast("long")).as("n_tokens"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(pow(col("n_tokens").cast("double"), 0.7), 6).as("p"))
      val tot = per.agg(
        sum(col("p").cast("decimal(28,6)")).as("p_tot"),
        sum(col("n_tokens")).as("tok_tot"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("p") / col("p_tot").cast("double"), 6).as("weight"),
          round(col("n_tokens").cast("double") /
            col("tok_tot").cast("double"), 6).as("natural_share"),
          round((col("p") / col("p_tot").cast("double")) /
            (col("n_tokens").cast("double") /
              col("tok_tot").cast("double")), 4).as("boost"))
        .orderBy("source")
    }),

    // PARAGRAPH-granularity dedup (CCNet/RefinedWeb boilerplate
    // removal): dedup below the document and above the substring —
    // repeated paragraphs (headers, licenses, nav text) are dropped
    // corpus-wide while the host docs survive. First occurrence in
    // (doc_id, idx) order is the keeper, INCLUDING within one doc, so
    // intra-doc repetition collapses too. The fixture corpus has no
    // paragraph breaks, so "paragraph" = consecutive 20-token chunk —
    // the splitter is the corpus-specific part, everything downstream is
    // the real pipeline. Docs re-assemble from kept chunks in position
    // order; fully-boilerplate docs surface with empty clean_text.
    // 100 TB shape: the dedup decision is ONE digest-keyed window (a
    // row_number over md5(chunk) — an equi shuffle key derived from
    // content, never an all-pairs compare); chunk text rides that
    // shuffle because the keeper's text is re-emitted, exactly like
    // exact dedup keeping the min-id doc. Reassembly is one doc-keyed
    // aggregate. No joins carry text.
    "llm_dedup_paragraph" -> ((s, d) => {
      val P = 20
      val words = split(col("text"), " ")
      val chunks = t(s, d, "documents")
        .select(col("doc_id"), words.as("ws"), size(words).as("n"))
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0),
            ceil(col("n").cast("double") / P).cast("int") - 1,
            lit(1))).as("idx"))
        .select(col("doc_id"), col("idx"),
          concat_ws(" ", slice(col("ws"), col("idx") * P + 1, lit(P)))
            .as("ptext"))
      val w = Window.partitionBy(md5(col("ptext")))
        .orderBy(col("doc_id"), col("idx"))
      val kept = chunks.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("idx"), col("ptext")))),
            x => x.getField("ptext"))).as("clean_text"))
      chunks.groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_chunks"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          (col("n_chunks") - coalesce(col("n_kept"), lit(0)))
            .as("n_dropped"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    }),

    // Gopher-rules quality filter (the published heuristic rule set the
    // curation genre standardized on): word-count bounds, mean-word-
    // length bounds, minimum fraction of words containing a letter, and
    // the ≥2-distinct-stopwords requirement. (The line-shape rules —
    // bullet starts, ellipsis ends — degenerate on the one-line fixture
    // corpus and are omitted; llm_repetition_filter covers the
    // repetition rules.) Complements llm_quality_score's continuous
    // score with the genre's canonical hard gate. Entirely map-side
    // per-doc array math — zero shuffles at any corpus size (the only
    // exchange is the output ORDER BY, which exists for the oracle).
    // The token array is staged as a column so the four consumers share
    // one split, not four (higher-order fns are interpreted).
    "llm_quality_gopher" -> ((s, d) => {
      val stops = Seq("the", "be", "to", "of", "and", "that", "have",
        "with")
      t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ws"))
        .select(col("doc_id"), size(col("ws")).as("n"),
          aggregate(transform(col("ws"), w => length(w)), lit(0),
            (acc, x) => acc + x).as("swl"),
          size(expr("filter(ws, w -> w rlike '[a-z]')")).as("n_alpha"),
          stops.map(sw => array_contains(col("ws"), sw).cast("int"))
            .reduce(_ + _).as("n_stop"))
        .select(col("doc_id"), col("n").as("n_words"),
          round(col("swl").cast("double") / col("n"), 4).as("mean_wlen"),
          round(col("n_alpha").cast("double") / col("n"), 4)
            .as("frac_alpha"),
          col("n_stop"),
          (col("n").between(50, 100000) &&
            (col("swl").cast("double") / col("n")).between(3.0, 10.0) &&
            col("n_alpha").cast("double") / col("n") >= 0.8 &&
            col("n_stop") >= 2).as("keep"))
        .orderBy("doc_id")
    }),

    // Model-based quality filter — the fastText/CCNet-style linear
    // classifier that complements the RULE-based `llm_quality_gopher`:
    // each token hashes into one of 64 feature buckets, a fixed weight
    // table scores the bucket, and the doc's mean weight passes through
    // a sigmoid. The production shape is exactly this but with learned
    // weights broadcast to executors (64 ints here; 2M-bucket fastText
    // weights broadcast identically) — entirely map-side, no shuffle,
    // no model server. Everything before the sigmoid is INTEGER-exact
    // so the oracle reproduces it bit-for-bit: the bucket hash is
    // char-arithmetic (first/last code point + length — the hashing
    // trick needs any deterministic hash, and this one both engines
    // compute identically), weights are tenths in [-1, 1] stored ×10,
    // and `keep` compares the integer weight sum against 0 (≡ score
    // ≥ 0.5 by sigmoid monotonicity) so no float boundary can flip it.
    "llm_quality_classifier" -> ((s, d) => {
      def bucket(t: Column): Column =
        pmod(ascii(t) * 31 +
          ascii(t.substr(length(t), lit(1))) * 7 + length(t), lit(64))
      def wTenths(t: Column): Column =
        (pmod(bucket(t) * 37, lit(21)) - 10).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"),
          filter(toks(col("text")), tk => length(tk) > 0).as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("doc_id"), size(col("tk")).as("n_toks"),
          aggregate(col("tk"), lit(0L), (acc, tk) => acc + wTenths(tk))
            .as("w_sum"))
        .select(col("doc_id"), col("n_toks"), col("w_sum"),
          round(lit(1.0) / (lit(1.0) +
            exp(-(col("w_sum") / (col("n_toks") * 10.0)))), 4).as("score"),
          (col("w_sum") >= 0).as("keep"))
        .orderBy("doc_id")
    }),

    // SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    // prune near-duplicates WITHIN each cluster — the semantic
    // complement of the lexical dedup family. Reuses the exact IVF
    // coarse quantizer `llm_knn_ivf` trains (corpus-scaled k, decimal-
    // exact means), so pair work is bucket-local (n²/k, k ~ √n) — never
    // corpus-wide all-pairs. A vector is PRUNED when a lower-id vector
    // in its bucket has cosine ≥ τ (the deterministic keep-lowest-id
    // representative rule); τ = 0.35 is fixture-calibrated (synthetic
    // embeddings are near-orthogonal — real corpora use ~0.95+; the
    // mechanism, not the constant, is what's verified — and the oracle
    // computes the identical rule in SQL, so correctness is exact, not
    // exempt). The prune flag joins back on vec_id — co-partitioned
    // with the assignment's own key at scale.
    "llm_semdedup" -> ((s, d) => {
      val e = embFrame(s, d)
      val assigned = OpCache.track(nearestBucket(s, e, ivfCentroidsTable(s, d)))
      val dups = assigned.select(col("bucket"), col("vec_id").as("doc_b"),
          col("v").as("b_v"))
        .join(assigned.select(col("bucket"), col("vec_id").as("doc_a"),
          col("v").as("a_v")), "bucket")
        .where(col("doc_a") < col("doc_b") &&
          round(cosc(s, col("a_v"), col("b_v")), 4) >= 0.35)
        .select(col("doc_b").as("vec_id")).distinct()
      assigned.join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("bucket"), col("dup").isNull.as("kept"))
        .orderBy("vec_id")
    }),

    // DATASET CARD (the per-source report every curation pipeline
    // publishes next to the data): doc/char/token volume, language mix,
    // and exact-dup rate per source. One keyed shuffle on source; the
    // two DISTINCT aggregates ride the same key (Spark plans them as
    // expand + partial agg, still source-keyed — no single partition);
    // text reduces to a 32-byte digest before the distinct, so the
    // wide column never shuffles.
    "llm_source_report" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          countDistinct(col("lang")).as("n_langs"),
          round(sum(when(col("lang") === "en", 1).otherwise(0))
            .cast("double") / count(lit(1)), 4).as("en_share"),
          countDistinct(md5(col("text"))).as("n_uniq"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .withColumn("dup_rate",
          round(lit(1) - col("n_uniq").cast("double") / col("n_docs"), 4))
        .orderBy("source")
    }),

    // BLOOM-FILTER MEMBERSHIP PRE-FILTER (the incremental-ingest
    // cheap path): before the exact `llm_dedup_incremental` join, a
    // new shard probes a Bloom filter of the already-ingested corpus's
    // content digests — a no-false-NEGATIVE test, so unflagged docs
    // skip the exact join entirely and only the flagged sliver (true
    // dups + fpp false positives) pays the shuffle. Built with
    // DataFrame.stat.bloomFilter (distributed treeAggregate of
    // per-partition filters), broadcast once (~1.2 GB per 1e9 docs at
    // 1% — per-executor, not per-task; beyond that, shard the filter
    // by digest prefix and probe the matching shard). Hash-seeded →
    // no SQL oracle (exempt); the no-false-negative + fpp-bound +
    // determinism properties are spec-pinned.
    "llm_bloom_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("digest"))
      val seen = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val fresh = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val nSeen = math.max(seen.count(), 1L)
      val bf = s.sparkContext.broadcast(
        seen.stat.bloomFilter("digest", nSeen, 0.01))
      val might = udf((dg: String) => bf.value.mightContain(dg))
      fresh
        .select(col("doc_id"), col("digest"),
          might(col("digest")).as("flagged"))
        .orderBy("doc_id")
    }),

    // BPE TOKENIZER TRAINING (Sennrich et al. 2016 — learning the
    // merge table `llm_token_bpe` APPLIES): 8 merge rounds over the
    // corpus. The distributed shape every at-scale BPE trainer uses:
    // the corpus collapses ONCE into the distinct-word/count table
    // (vocab ≪ corpus — all later rounds touch only the vocab), each
    // round counts adjacent symbol pairs weighted by word count (one
    // vocab-keyed shuffle + map-side partial agg), takes the argmax
    // pair as a 1-row TakeOrdered (count desc, pair asc — total
    // order, so training is deterministic), and rewrites the vocab's
    // symbol arrays with the same left-to-right fold `bpeApplyCol`
    // applies at inference. Per-round driver traffic is ONE 3-field
    // row (the pagerank-style iterative scalar); per-round vocab
    // tables are OpCache-tracked so round r+1 reads r's materialized
    // state, not an 8-deep lineage. Iterative + argmax → not
    // SQL-expressible (exempt); LlmExtraSpec pins exact equality with
    // a driver-side reference trainer plus the max-pair-count
    // monotonicity invariant.
    "llm_tokenizer_train" -> ((s, d) => {
      import s.implicits._
      val words = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      var cur = OpCache.track(words.select(col("cnt"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("sym")))
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, Long)]
      var done = false
      for (r <- 1 to 8 if !done) {
        val top = cur.select(col("cnt"), explode(
            when(size(col("sym")) < 2,
              array().cast("array<struct<a:string,b:string>>"))
            .otherwise(transform(sequence(lit(1), size(col("sym")) - 1),
              i => struct(element_at(col("sym"), i).as("a"),
                element_at(col("sym"), i + 1).as("b"))))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("a"), col("b"))
          .limit(1).collect()
        if (top.isEmpty) done = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((r, a, b, top(0).getLong(2)))
          cur = OpCache.track(cur.select(col("cnt"),
            aggregate(col("sym"), array().cast("array<string>"),
              (acc, x) => when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(a) && x === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1),
                  array(lit(a + b))))
                .otherwise(concat(acc, array(x)))).as("sym")))
        }
      }
      merges.toSeq.toDF("rank", "pair_a", "pair_b", "weighted_count")
        .select(col("rank"), col("pair_a"), col("pair_b"),
          concat(col("pair_a"), col("pair_b")).as("merged"),
          col("weighted_count"))
        .orderBy("rank")
    })
  )

  /** Shared oracle CTE chain mirroring ivfAssign: corpus-scaled k →
    * seeds → assign → decimal-exact bucket means → re-assign. Ends with
    * `asn(vec_id, v, bucket)`; note generate_subscripts is 1-based vs
    * posexplode's 0-based pos — irrelevant, pos is only a group/order
    * key. */
  private val ivfAssignSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |seeds AS (SELECT vec_id c_id, v cv FROM e
      |          WHERE vec_id < (SELECT greatest(8, floor(sqrt(count(*) / 8.0)))
      |                          FROM e)),
      |a0 AS (SELECT vec_id, v, c_id bucket FROM (
      |  SELECT e.vec_id, e.v, s.c_id,
      |   row_number() OVER (PARTITION BY e.vec_id
      |     ORDER BY round(list_cosine_similarity(e.v, s.cv), 6) DESC, s.c_id) arn
      |  FROM e, seeds s) WHERE arn = 1),
      |cm AS (SELECT bucket, pos,
      |   CAST(sum(CAST(round(val, 8) AS DECIMAL(20,8))) AS DOUBLE) / count(*) m
      |  FROM (SELECT bucket, generate_subscripts(v, 1) pos, unnest(v) val
      |        FROM a0)
      |  GROUP BY bucket, pos),
      |cent AS (SELECT bucket c_id, list(m ORDER BY pos) cv FROM cm
      |         GROUP BY bucket),
      |asn AS (SELECT vec_id, v, c_id bucket FROM (
      |  SELECT e.vec_id, e.v, c.c_id,
      |   row_number() OVER (PARTITION BY e.vec_id
      |     ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.c_id) arn
      |  FROM e, cent c) WHERE arn = 1)""".stripMargin

  /** Shared oracle CTE fragment mirroring `cappedShingleIndex` +
    * `cappedSetSizes`: shingle sets → exploded index → df-cap → kept
    * rows `ec(doc_id, source, h)` + capped sizes `nn(doc_id, n)`. The
    * cap constant interpolates from ShingleDfCap so both engines always
    * agree on the capped-set definition. */
  private val cappedIdxSql: String =
    s"""d0 AS (SELECT doc_id, source,
      |  list_distinct(list_transform(
      |    generate_series(1, greatest(len(string_split(text,' '))-2, 1)),
      |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) sh
      | FROM documents),
      |e0 AS (SELECT doc_id, source, unnest(sh) h FROM d0),
      |keep AS (SELECT source, h FROM e0 GROUP BY 1, 2
      |         HAVING count(*) <= $ShingleDfCap),
      |ec AS (SELECT e0.doc_id, e0.source, e0.h
      |       FROM e0 JOIN keep USING (source, h)),
      |nn AS (SELECT doc_id, count(*) n FROM ec GROUP BY 1)""".stripMargin

  /** Shared oracle CTE chain for the cluster table: capped index →
    * Jaccard pairs at `JacCluster` → transitive closure via recursive
    * CTE → min-label + size. Ends with `lab(doc_id, cluster_id)` and
    * `sz(cluster_id, cluster_size)`. */
  private val clusterSqlCore: String =
    s"""WITH RECURSIVE $cappedIdxSql,
      |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
      |  FROM ec a JOIN ec b
      |    ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b FROM (
      |  SELECT i.doc_a, i.doc_b,
      |   round(i.inter::DOUBLE / (na.n + nb.n - i.inter), 4) jac
      |  FROM inter i JOIN nn na ON na.doc_id = i.doc_a
      |       JOIN nn nb ON nb.doc_id = i.doc_b)
      | WHERE jac >= $JacCluster),
      |e AS (SELECT doc_a a, doc_b b FROM pairs
      |      UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
      |lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
      |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab
      |       GROUP BY cluster_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "llm_dedup_substring" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, len(ws) - $SubstrK + 1)) AS p
        |  FROM docs WHERE len(ws) >= $SubstrK),
        |grams AS (SELECT doc_id, p,
        |    array_to_string(ws[p:p+$SubstrK-1], ' ') AS g FROM pos),
        |marked AS (SELECT doc_id, p FROM (
        |    SELECT doc_id, p, count(*) OVER (PARTITION BY g) AS c
        |    FROM grams) WHERE c >= 2),
        |runs AS (SELECT doc_id, p, p - row_number() OVER (
        |    PARTITION BY doc_id ORDER BY p) AS grp FROM marked)
        |SELECT doc_id, min(p) AS run_start,
        |  max(p) + $SubstrK - 1 AS run_end,
        |  max(p) - min(p) + $SubstrK AS run_len
        |FROM runs GROUP BY doc_id, grp
        |ORDER BY doc_id, run_start""".stripMargin,
    "llm_dedup_substring_prune" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |pos AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, len(ws) - $SubstrK + 1)) AS p
        |  FROM docs WHERE len(ws) >= $SubstrK),
        |grams AS (SELECT doc_id, p,
        |    array_to_string(ws[p:p+$SubstrK-1], ' ') AS g FROM pos),
        |marked AS (SELECT doc_id, p FROM (
        |    SELECT doc_id, p, count(*) OVER (PARTITION BY g) AS c
        |    FROM grams) WHERE c >= 2),
        |runs AS (SELECT doc_id, p, p - row_number() OVER (
        |    PARTITION BY doc_id ORDER BY p) AS grp FROM marked),
        |spans AS (SELECT doc_id, min(p) AS run_start,
        |    max(p) + $SubstrK - 1 AS run_end
        |  FROM runs GROUP BY doc_id, grp),
        |toks AS (SELECT doc_id, unnest(ws) AS tok,
        |    CAST(generate_subscripts(ws, 1) AS BIGINT) AS p FROM docs),
        |kept AS (SELECT t.doc_id, t.p, t.tok FROM toks t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |    WHERE s.doc_id = t.doc_id
        |      AND t.p BETWEEN s.run_start AND s.run_end)),
        |ka AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(d.ws) AS BIGINT) - coalesce(ka.n_kept, 0) AS n_dropped,
        |  coalesce(ka.clean_text, '') AS clean_text
        |FROM docs d LEFT JOIN ka USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "llm_dedup_ngram_jaccard" ->
      s"""WITH $cappedIdxSql,
        |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
        |  FROM ec a JOIN ec b
        |    ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, jac FROM (
        | SELECT i.doc_a, i.doc_b,
        |  round(i.inter::DOUBLE / (na.n + nb.n - i.inter), 4) jac
        | FROM inter i JOIN nn na ON na.doc_id = i.doc_a
        |      JOIN nn nb ON nb.doc_id = i.doc_b)
        |WHERE jac >= $JacNearDup ORDER BY doc_a, doc_b""".stripMargin,
    "llm_dedup_incremental" ->
      s"""WITH $cappedIdxSql,
        |cut AS (SELECT floor(max(doc_id) * 0.9) c FROM documents),
        |inter AS (SELECT a.doc_id, b.doc_id match_id, count(*) inter
        |  FROM ec a JOIN ec b ON a.source = b.source AND a.h = b.h, cut
        |  WHERE a.doc_id > cut.c AND b.doc_id <= cut.c
        |  GROUP BY 1, 2),
        |cand AS (SELECT doc_id, match_id, jac FROM (
        |  SELECT i.doc_id, i.match_id,
        |   round(i.inter::DOUBLE / (na.n + nb.n - i.inter), 4) jac
        |  FROM inter i JOIN nn na ON na.doc_id = i.doc_id
        |       JOIN nn nb ON nb.doc_id = i.match_id)
        | WHERE jac >= $JacCluster),
        |best AS (SELECT doc_id, match_id, jac FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY jac DESC, match_id) rk FROM cand) WHERE rk = 1)
        |SELECT nd.doc_id,
        | CASE WHEN b.match_id IS NULL THEN 'keep' ELSE 'drop' END AS action,
        | b.match_id, b.jac
        |FROM (SELECT doc_id FROM documents, cut WHERE doc_id > cut.c) nd
        |LEFT JOIN best b USING (doc_id) ORDER BY nd.doc_id""".stripMargin,
    "llm_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents)
        |SELECT doc_id, rk, term, tf, df, score FROM (
        | SELECT t.doc_id, t.term, t.tf, d.df,
        |  round(t.tf * ln((n.nd + 1.0) / (d.df + 1.0)), 4) AS score,
        |  CAST(row_number() OVER (PARTITION BY t.doc_id
        |    ORDER BY t.tf DESC, d.df, t.term) AS INT) AS rk
        | FROM tf t JOIN df d USING (term), n)
        |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,
    "llm_chunk_overlap" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') ws,
        |  len(string_split(text,' ')) n FROM documents),
        |c AS (SELECT doc_id, ws, n,
        |  unnest(generate_series(0,
        |    greatest(CAST(ceil((n - 32)::DOUBLE / 24) AS INT), 0)))
        |    AS chunk_idx
        | FROM w)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        | CAST(chunk_idx*24 + 1 AS INT) AS start_tok,
        | array_to_string(ws[chunk_idx*24+1 : chunk_idx*24+32], ' ')
        |   AS chunk,
        | CAST(least(n - chunk_idx*24, 32) AS INT) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "llm_pack_sequences" ->
      """SELECT doc_id, source, toks,
        | CAST(floor((cum - toks)::DOUBLE / 2048) AS BIGINT) AS bin
        |FROM (SELECT doc_id, source,
        |  CAST(len(string_split(text,' ')) AS INT) AS toks,
        |  sum(len(string_split(text,' '))) OVER (PARTITION BY source
        |    ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM documents)
        |ORDER BY source, doc_id""".stripMargin,
    "llm_pii_scrub" ->
      """WITH r AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com or 555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(raw,
        |   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_email,
        | CAST(len(regexp_extract_all(raw,
        |   '\b[0-9]{3}-[0-9]{4}\b')) AS INT) AS n_phone,
        | regexp_replace(regexp_replace(raw,
        |   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |   '\b[0-9]{3}-[0-9]{4}\b', '[PHONE]', 'g') AS scrubbed
        |FROM r ORDER BY doc_id""".stripMargin,
    "llm_ngram_counts" ->
      """WITH w AS (SELECT string_split(text, ' ') ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT ws[i] || ' ' || ws[i+1] AS bigram
        |      FROM (SELECT ws, unnest(generate_series(1, len(ws)-1)) i
        |            FROM w))
        |SELECT bigram, count(*) AS n FROM b
        |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 100""".stripMargin,
    "llm_sample_split" ->
      """SELECT doc_id, n_chars,
        | (doc_id * 1000003 + 12345) % 97 AS bucket,
        | CASE WHEN (doc_id * 1000003 + 12345) % 97 < 78 THEN 'train'
        |      WHEN (doc_id * 1000003 + 12345) % 97 < 88 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_dedup_clusters" ->
      (clusterSqlCore +
        """
        |SELECT l.doc_id, l.cluster_id, sz.cluster_size,
        | l.doc_id = l.cluster_id AS is_canon
        |FROM lab l JOIN sz USING (cluster_id) ORDER BY l.doc_id""".stripMargin),
    "llm_dedup_prune" ->
      (clusterSqlCore +
        """
        |SELECT l.doc_id, sz.cluster_size,
        | sz.cluster_size - 1 AS dup_dropped
        |FROM lab l JOIN sz USING (cluster_id)
        |WHERE l.doc_id = l.cluster_id ORDER BY l.doc_id""".stripMargin),
    "llm_dedup_embcos" ->
      (ivfAssignSql +
        """,
        |p AS (SELECT a.bucket, a.vec_id doc_a, b.vec_id doc_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) cos
        | FROM asn a JOIN asn b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY bucket
        |        ORDER BY cos DESC, doc_a, doc_b) AS INT) rk FROM p)
        |SELECT bucket, doc_a, doc_b, cos, rk FROM r WHERE rk <= 3
        |ORDER BY bucket, rk""".stripMargin),
    "llm_knn_ivf" ->
      (ivfAssignSql +
        """,
        |q AS (SELECT q_id, qv, bucket FROM (
        |  SELECT e.vec_id q_id, e.v qv, c.c_id bucket,
        |   row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
        |       c.c_id) arn
        |  FROM e, cent c WHERE e.vec_id < 5) WHERE arn <= 2),
        |p AS (SELECT q.q_id, a.vec_id,
        |   round(list_cosine_similarity(q.qv, a.v), 4) cos
        |  FROM q JOIN asn a ON q.bucket = a.bucket AND q.q_id <> a.vec_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |        ORDER BY cos DESC, vec_id) AS INT) rk FROM p)
        |SELECT q_id, rk, vec_id, cos FROM r WHERE rk <= 3
        |ORDER BY q_id, rk""".stripMargin),
    "llm_lang_id" ->
      """WITH s AS (SELECT doc_id, lang, text,
        | CAST(len(list_filter(string_split(text,' '),
        |   x -> list_contains(['the','of','and','is'], x))) AS INT) s_en,
        | CAST(len(list_filter(string_split(text,' '),
        |   x -> list_contains(['el','la','de','es'], x))) AS INT) s_es,
        | CAST(len(list_filter(string_split(text,' '),
        |   x -> list_contains(['le','la','et','est'], x))) AS INT) s_fr,
        | CAST(len(list_filter(string_split(text,' '),
        |   x -> list_contains(['der','und','das','ist'], x))) AS INT) s_de
        | FROM documents)
        |SELECT doc_id, s_en, s_es, s_fr, s_de,
        | CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
        |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
        |      WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
        |      WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS pred,
        | (CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
        |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
        |      WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
        |      WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END) = lang AS hit
        |FROM s ORDER BY doc_id""".stripMargin,
    "llm_quality_score" ->
      """WITH q AS (SELECT doc_id, n_chars, text,
        |  len(list_filter(string_split(text,' '),
        |    x -> list_contains(['the','of','and','is','a','to','in'], x)))::DOUBLE
        |    / len(string_split(text,' ')) AS stop_ratio,
        |  CASE WHEN length(text) > 0 THEN
        |    length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::DOUBLE
        |    / length(text) ELSE 0.0 END AS punct_ratio,
        |  (length(text) - len(string_split(text,' ')) + 1)::DOUBLE
        |    / len(string_split(text,' ')) AS mean_tok_len
        | FROM documents)
        |SELECT doc_id, round(stop_ratio, 4) AS stop_ratio,
        | round(punct_ratio, 4) AS punct_ratio,
        | round(mean_tok_len, 4) AS mean_tok_len,
        | n_chars = length(text) AS len_ok,
        | round(least(stop_ratio * 5, 1.0) * 0.4 +
        |   (CASE WHEN mean_tok_len BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END) +
        |   greatest(1.0 - punct_ratio * 10, 0.0) * 0.3, 4) AS quality
        |FROM q ORDER BY doc_id""".stripMargin,
    "llm_token_count" ->
      """SELECT doc_id,
        | CAST(len(string_split(text,' ')) AS INT) AS n_ws,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe,
        | CASE WHEN len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) > 0
        |  THEN round(length(text)::DOUBLE /
        |   len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')), 4)
        |  ELSE 0.0 END AS chars_per_tok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_shard_manifest" ->
      """WITH dtok AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(text) AS h
        |  FROM documents),
        |o AS (
        |  SELECT source, doc_id, n_tok, h,
        |    coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS off
        |  FROM dtok)
        |SELECT source, CAST(off // 400 AS BIGINT) AS shard_id,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS doc_lo, max(doc_id) AS doc_hi,
        |  md5(string_agg(h, '' ORDER BY h)) AS digest
        |FROM o GROUP BY 1, 2
        |ORDER BY source, shard_id""".stripMargin,
    "llm_multimodal_frames" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) hx,
        |        octet_length(encode(text)) byte_len
        |      FROM documents WHERE octet_length(encode(text)) > 0),
        |fr AS (SELECT doc_id, hx, byte_len,
        |        unnest(generate_series(0, least((byte_len-1)//64, 3)))
        |          AS frame_idx
        |       FROM m)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        | CAST(byte_len AS INT) AS byte_len,
        | CAST(concat('0x', substr(hx, frame_idx*128+1, 2)) AS INT) AS f_byte
        |FROM fr ORDER BY doc_id, frame_idx""".stripMargin,
    "llm_multimodal_binary" ->
      """SELECT doc_id, 'text' AS modality,
        | CAST(octet_length(encode(text)) AS INT) AS byte_len,
        | CAST(octet_length(encode(text)) % 256 AS INT) AS f0,
        | CAST(octet_length(encode(text)) // 256 AS INT) AS f1,
        | CASE WHEN length(text) = 0 THEN 0
        |      ELSE CAST(concat('0x', substr(hex(encode(text)),1,2)) AS INT)
        | END AS f2
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the fixture arithmetic from Multimodal.pngBytes — the engine side
    // must reproduce it by actually DECODING the PNGs it encoded
    "llm_multimodal_image" ->
      """SELECT doc_id,
        | CAST(1 + doc_id % 4 AS INT) AS width,
        | CAST(1 + doc_id % 3 AS INT) AS height,
        | CAST((doc_id * 7) % 256 AS INT) AS px_r,
        | CAST((doc_id * 13) % 256 AS INT) AS px_g,
        | CAST((doc_id * 31) % 256 AS INT) AS px_b
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the fixture arithmetic from Multimodal.wavBytes — the engine side
    // must reproduce it by actually DECODING the WAVs it encoded
    "llm_multimodal_audio" ->
      """SELECT doc_id,
        | CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        | CAST(4 + doc_id % 5 AS INT) AS n_frames,
        | CAST((doc_id * 31) % 65536 - 32768 AS INT) AS s_first,
        | CAST((doc_id * 31 + (3 + doc_id % 5) * 17) % 65536 - 32768
        |   AS INT) AS s_last
        |FROM documents ORDER BY doc_id""".stripMargin,

    // string shingles here vs 64-bit shingle hashes on the engine side —
    // identical membership/counts, same argument as ngram_jaccard
    "llm_decontaminate" ->
      """WITH d0 AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text,' '))-2, 1)),
        |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) sh
        |  FROM documents),
        |bench AS (SELECT DISTINCT unnest(sh) h FROM d0 WHERE doc_id % 17 = 0),
        |tr AS (SELECT doc_id, sh FROM d0 WHERE doc_id % 17 <> 0),
        |hits AS (SELECT doc_id, count(*) hits
        |  FROM (SELECT doc_id, unnest(sh) h FROM tr) e JOIN bench USING (h)
        |  GROUP BY 1)
        |SELECT tr.doc_id, len(tr.sh) AS n_shingles,
        | coalesce(h.hits, 0) AS hits,
        | round(coalesce(h.hits, 0)::DOUBLE / len(tr.sh), 4) AS overlap_frac,
        | coalesce(h.hits, 0) > 0 AS contaminated
        |FROM tr LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin,
    "llm_repetition_filter" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
        |b AS (SELECT doc_id, ws, list_transform(
        |   generate_series(1, greatest(len(ws)-1, 0)),
        |   i -> array_to_string(ws[i:i+1], ' ')) bg FROM w)
        |SELECT doc_id, len(ws) AS n_words,
        | round(1 - len(list_distinct(ws))::DOUBLE / len(ws), 4)
        |   AS dup_word_frac,
        | CASE WHEN len(bg) > 0 THEN
        |   round(1 - len(list_distinct(bg))::DOUBLE / len(bg), 4)
        | ELSE 0.0 END AS dup_bigram_frac,
        | round(1 - len(list_distinct(ws))::DOUBLE / len(ws), 4) <= 0.3
        |  AND (CASE WHEN len(bg) > 0 THEN
        |    round(1 - len(list_distinct(bg))::DOUBLE / len(bg), 4)
        |   ELSE 0.0 END) <= 0.2 AS keep
        |FROM b ORDER BY doc_id""".stripMargin,
    "llm_perplexity_proxy" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text,' ')) tok
        |            FROM documents),
        |uni AS (SELECT tok, count(*) cnt FROM tk GROUP BY 1),
        |tot AS (SELECT sum(cnt) total FROM uni)
        |SELECT doc_id, count(*) AS n_tokens,
        | -(((CAST(-sum(CAST(round(ln(cnt::DOUBLE / total), 6)
        |       AS DECIMAL(28,6))) * 1000000 AS BIGINT) * 2
        |     + count(*) * 100) // (count(*) * 200)) / 10000.0) AS avg_logp
        |FROM tk JOIN uni USING (tok), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_domain_balance" ->
      """WITH cnt AS (SELECT source, count(*) n_src FROM documents
        |             GROUP BY 1),
        |tgt AS (SELECT min(n_src) t FROM cnt),
        |r AS (SELECT source, n_src, floor(10000.0 * tgt.t / n_src) cut
        |      FROM cnt, tgt)
        |SELECT d.doc_id, d.source, r.n_src,
        | (d.doc_id * 1000003 + 12345) % 10000 < r.cut AS keep
        |FROM documents d JOIN r USING (source) ORDER BY doc_id""".stripMargin,
    "llm_mixture_weights" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |        CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |      FROM documents GROUP BY 1),
        |p AS (SELECT source, n_docs, n_tokens,
        |        round(pow(n_tokens::DOUBLE, 0.7), 6) AS p FROM per),
        |t AS (SELECT sum(CAST(p AS DECIMAL(28,6))) AS p_tot,
        |        CAST(sum(n_tokens) AS BIGINT) AS tok_tot FROM p)
        |SELECT source, n_docs, n_tokens,
        | round(p / p_tot::DOUBLE, 6) AS weight,
        | round(n_tokens::DOUBLE / tok_tot::DOUBLE, 6) AS natural_share,
        | round((p / p_tot::DOUBLE) / (n_tokens::DOUBLE / tok_tot::DOUBLE),
        |   4) AS boost
        |FROM p, t ORDER BY source""".stripMargin,
    "llm_dedup_paragraph" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') ws,
        |        len(string_split(text,' ')) n FROM documents),
        |c AS (SELECT doc_id, ws, unnest(generate_series(0,
        |        CAST(ceil(n::DOUBLE / 20) AS INT) - 1)) AS idx FROM w),
        |p AS (SELECT doc_id, idx,
        |        array_to_string(ws[idx*20+1 : idx*20+20], ' ') AS ptext
        |      FROM c),
        |r AS (SELECT doc_id, idx, ptext,
        |        row_number() OVER (PARTITION BY md5(ptext)
        |          ORDER BY doc_id, idx) AS rn FROM p),
        |k AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |        string_agg(ptext, ' ' ORDER BY idx) AS clean_text
        |      FROM r WHERE rn = 1 GROUP BY 1),
        |n AS (SELECT doc_id, CAST(count(*) AS INT) AS n_chunks
        |      FROM p GROUP BY 1)
        |SELECT n.doc_id, n.n_chunks,
        | n.n_chunks - coalesce(k.n_kept, 0) AS n_dropped,
        | coalesce(k.clean_text, '') AS clean_text
        |FROM n LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,
    "llm_quality_gopher" ->
      """WITH b AS (SELECT doc_id, string_split(text,' ') ws
        |           FROM documents),
        |m AS (SELECT doc_id, CAST(len(ws) AS INT) AS n,
        |  list_sum(list_transform(ws, w -> length(w))) AS swl,
        |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
        |    AS INT) AS n_alpha,
        |  (CASE WHEN list_contains(ws,'the') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(ws,'be') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(ws,'to') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(ws,'of') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(ws,'and') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(ws,'that') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(ws,'have') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(ws,'with') THEN 1 ELSE 0 END)
        |    AS n_stop
        | FROM b)
        |SELECT doc_id, n AS n_words,
        | round(swl::DOUBLE / n, 4) AS mean_wlen,
        | round(n_alpha::DOUBLE / n, 4) AS frac_alpha,
        | n_stop,
        | (n BETWEEN 50 AND 100000
        |  AND swl::DOUBLE / n BETWEEN 3.0 AND 10.0
        |  AND n_alpha::DOUBLE / n >= 0.8
        |  AND n_stop >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // same integer-exact hash/weight arithmetic as the Spark op; only
    // the final sigmoid is float, rounded on both engines
    "llm_quality_classifier" ->
      """WITH tk AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |f AS (
        |  SELECT doc_id,
        |    ((ascii(t) * 31 + ascii(substr(t, length(t), 1)) * 7
        |      + length(t)) % 64) AS b
        |  FROM tk),
        |a AS (
        |  SELECT doc_id, CAST(count(*) AS INT) AS n_toks,
        |    CAST(sum((b * 37) % 21 - 10) AS BIGINT) AS w_sum
        |  FROM f GROUP BY doc_id)
        |SELECT doc_id, n_toks, w_sum,
        |  round(1.0 / (1.0 + exp(-(w_sum / (n_toks * 10.0)))), 4) AS score,
        |  w_sum >= 0 AS keep
        |FROM a ORDER BY doc_id""".stripMargin,
    "llm_semdedup" ->
      (ivfAssignSql +
        """,
        |dup AS (SELECT DISTINCT b.vec_id
        |  FROM asn a JOIN asn b ON a.bucket = b.bucket
        |    AND a.vec_id < b.vec_id
        |    AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.35)
        |SELECT a.vec_id, a.bucket, (d.vec_id IS NULL) AS kept
        |FROM asn a LEFT JOIN dup d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin),
    "llm_source_report" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | round(avg(n_chars), 2) AS avg_chars,
        | count(DISTINCT lang) AS n_langs,
        | round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE
        |   / count(*), 4) AS en_share,
        | count(DISTINCT md5(text)) AS n_uniq,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        | round(1 - count(DISTINCT md5(text))::DOUBLE / count(*), 4)
        |   AS dup_rate
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
