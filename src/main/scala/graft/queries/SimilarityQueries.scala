package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.core.Tables
import graft.operators.{Certify, Similarity}

/** Similarity-search inventory over `embeddings` (array<float>, 64-d). */
object SimilarityQueries extends QueryModule {

  /** Exact top-5 anchor SQL (q40's oracle) with `flags` appended as
    * literal-1 BIGINT columns — the oracle half of the certified
    * pattern (see [[graft.operators.Certify]]): the exact rows
    * hash-check; a flag flipping to 0 on the Spark side is a FAIL. */
  private def exactTopkSql(where: String, flags: String*): String = {
    val flagCols = flags.map(f => s", CAST(1 AS BIGINT) AS $f").mkString
    s"""
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rank,
               ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos$flagCols
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        $where
        QUALIFY rank <= 5
        ORDER BY query_id, rank"""
  }

  /** Certified-ANN gate body: exact twin as the hash-checked anchor,
    * approximate result folded into ONE aggregate recall flag (floor
    * measured by graft.RecallProbe, set well under it). */
  private def certifiedTopK(exact0: org.apache.spark.sql.DataFrame,
                            approx: org.apache.spark.sql.DataFrame,
                            floor: Double,
                            pinExact: Boolean = false): org.apache.spark.sql.DataFrame = {
    // pinExact: materialize the exact twin when its pipeline is
    // expensive AND not exchange-deduped — the corpus-wide BNLJ twin
    // (q166) re-executed per reference because a broadcast NL join has
    // no exchange for ReuseExchange to fold; the 32-query twins of the
    // q42/q43/q122 family are exchange-reused already, and pinning
    // them measurably LOST ~0.3-0.5 s each (mid-round bench) — the
    // eager checkpoint job outweighs two cheap re-reads
    val exact = if (pinExact) Certify.pin(exact0) else exact0
    Certify.attach(
      exact.select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos")),
      Certify.recallFlag(approx, exact, Seq("query_id", "neighbor_id"),
        floor, "recall_ok"))
      .orderBy("query_id", "rank")
  }

  override def entries: Seq[(String, Q)] = Seq(

    // Exact top-5 cosine neighbors for the first 32 vectors as queries;
    // broadcast queries × corpus, per-query partitioned window top-k.
    "q40_cosine_topk" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 32), emb, k = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      oracle = Some("""
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rank,
               ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 32
        QUALIFY rank <= 5
        ORDER BY query_id, rank""")),

    // Hard-negative mining (DPR/SimCSE recipe): per query, top-5
    // corpus vectors from a DIFFERENT label (same-label = positives)
    // scoring ≤ 0.35 cosine (6-dp) — above that, likely unlabeled
    // positives (the false-negative trap; ceiling sized to this
    // corpus: cross-label p99 ≈ 0.29, max ≈ 0.49, so the rule
    // genuinely excludes a tail). Same broadcast-queries brute shape
    // as q40; group + ceiling prune before the window.
    "q157_hard_negatives" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.hardNegatives(
          emb.filter(col("vec_id") < 32), emb, k = 5, ceiling = 0.35)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      oracle = Some("""
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rank,
               ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos
        FROM embeddings q JOIN embeddings c ON q.label != c.label
        WHERE q.vec_id < 32
          AND ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) <= 0.35
        QUALIFY rank <= 5
        ORDER BY query_id, rank""")),

    // Embedding-space near-duplicate pairs (cos ≥ 0.4 — sized to this
    // corpus' similarity distribution so the result is non-trivial).
    "q41_cosine_neardup" -> Q(
      run = (s, dir) =>
        Similarity.cosineNearDupPairs(Tables(s, dir, "embeddings"), 0.4)
          .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
          .orderBy("id_a", "id_b"),
      oracle = Some("""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        ORDER BY id_a, id_b""")),

    // SemDeDup-style semantic dedup capstone: embedding near-dup pairs
    // (cos ≥ 0.4) → large-star/small-star components → one surviving
    // representative per semantic cluster with its replaced-count and
    // label. Exact pair generation here (oracle-checkable); the LSH
    // pair generator (q83's) is the drop-in 100 TB path. Oracle: an
    // independent recursive-CTE fixpoint over DuckDB's own cosine.
    "q103_semantic_dedup" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.semanticDedupSurvivors(emb, 0.4)
          .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
          .select(col("vec_id"), col("label"), col("group_size"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH RECURSIVE pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]) >= 0.4),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, lbl) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
        comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
        SELECT c.component AS vec_id, e.label,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM comp c JOIN embeddings e ON e.vec_id = c.component
        GROUP BY c.component, e.label ORDER BY vec_id""")),

    // IVF-cell approximate top-k — the k-means-family ANN scale path
    // (deterministic centroids, nprobe cell search). CERTIFIED: the
    // exact twin is the hash-checked anchor; the IVF result folds into
    // one recall flag (RecallProbe: 0.825 at nprobe=6 → floor 0.6).
    "q43_ivf_topk" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 32)
        certifiedTopK(
          Similarity.bruteForceTopK(q, emb, k = 5),
          Similarity.ivfTopK(q, emb, k = 5, nlist = 16, nprobe = 6),
          floor = 0.6)
      },
      oracle = Some(exactTopkSql("WHERE q.vec_id < 32", "recall_ok"))),

    // Sign-LSH bucketed approximate top-k — the 100 TB scale path.
    // CERTIFIED vs the exact twin (RecallProbe: 0.913 at 64 bits / 16
    // bands → floor 0.6).
    "q42_lsh_topk" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 32)
        certifiedTopK(
          Similarity.bruteForceTopK(q, emb, k = 5),
          Similarity.lshTopK(q, emb, k = 5, dim = 64, bits = 64, bands = 16),
          floor = 0.6)
      },
      oracle = Some(exactTopkSql("WHERE q.vec_id < 32", "recall_ok"))),

    // Product-quantization approximate top-k (Similarity.pqTopK) — the
    // ANN memory-compression path: corpus stored as 8 int codes per
    // vector (~32× smaller than 64 floats), scanned via codegen'd ADC
    // table lookups, exact-rescored on the shortlist. Deterministic
    // codebook (seeded + one distributed Lloyd pass) but approximate
    // ranks → CERTIFIED vs the exact twin (RecallProbe: 0.800 at refine=16 →
    // floor 0.6).
    "q122_pq_topk" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 32)
        certifiedTopK(
          Similarity.bruteForceTopK(q, emb, k = 5),
          Similarity.pqTopK(q, emb, k = 5, dim = 64, refine = 16),
          floor = 0.6)
      },
      oracle = Some(exactTopkSql("WHERE q.vec_id < 32", "recall_ok"))),

    // IVFADC end-to-end (Similarity.ivfPqTopK): cell pruning (q43's
    // IVF) composed with residual-PQ ADC scoring (q122's codes) — the
    // complete 100 TB ANN query: candidates come from an EQUI-JOIN on
    // probed cell ids over ~32×-compressed codes, never a cross join
    // (PlanAuditSpec-clean with no allowlist entry). Approximate →
    // CERTIFIED vs the exact twin (RecallProbe: 0.763 at nprobe=8 /
    // refine=8 → floor 0.55).
    "q123_ivfpq_topk" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 32)
        certifiedTopK(
          Similarity.bruteForceTopK(q, emb, k = 5),
          Similarity.ivfPqTopK(q, emb, k = 5, dim = 64,
            nprobe = 8, refine = 8),
          floor = 0.55)
      },
      oracle = Some(exactTopkSql("WHERE q.vec_id < 32", "recall_ok"))),

    // PERSISTED PQ index (PqIndex): the write-side encode job made
    // concrete — codebook + codes committed as durable artifacts (codes
    // are a VersionedTable), a second batch APPENDED with the stored
    // codebook (no retrain, no rewrite), then searched; PqIndexSpec
    // pins search ≡ pqTopK on a same-corpus build and the
    // incremental-append contract.
    // CERTIFIED vs the exact twin: the codebook trains on 3/4 of the
    // corpus and the last quarter is APPENDED with stored centroids, so
    // recall sits at/below q122's same-corpus figure — floor 0.5.
    "q125_pq_index" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_pq_idx").resolve("i").toString
        val emb = Tables(s, dir, "embeddings")
        val b = col("vec_id") % 4
        graft.operators.PqIndex.build(emb.filter(b =!= 0), root, dim = 64)
        graft.operators.PqIndex.append(emb.filter(b === 0), root)
        val q = emb.filter(col("vec_id") < 32)
        certifiedTopK(
          Similarity.bruteForceTopK(q, emb, k = 5),
          graft.operators.PqIndex.search(q, emb, root, k = 5, refine = 16),
          floor = 0.5)
      },
      oracle = Some(exactTopkSql("WHERE q.vec_id < 32", "recall_ok"))),

    // SQ8 scalar-quantized top-k (Similarity.sq8TopK) — the middle
    // rung of the ANN compression ladder (floats → SQ8 bytes → PQ
    // codes). Unlike q42/q43/q122 this one needs NO Certify flags: the
    // per-dim [min,max] stats, the affine byte quantization, the
    // centered INTEGER candidate score and the exact rescore are all
    // deterministic SQL-replayable arithmetic, so the oracle replays
    // the whole approximation and the result hash-checks outright —
    // the approximate-ANN family's one complete oracle.
    "q197_sq8_topk" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.sq8TopK(emb.filter(col("vec_id") < 32), emb,
          k = 5, refine = 32)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      oracle = Some("""
        WITH g AS (SELECT UNNEST(generate_series(1, 64)) AS pos),
        comp AS (
          SELECT vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS v
          FROM embeddings, g),
        stats AS (
          SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM comp GROUP BY pos),
        codes AS (
          SELECT c.vec_id, c.pos,
                 CASE WHEN s.mx = s.mn THEN 0.0
                      ELSE GREATEST(LEAST(FLOOR((c.v - s.mn) * 255.0
                             / (s.mx - s.mn)), 255.0), 0.0)
                 END * 2.0 - 255.0 AS cc
          FROM comp c JOIN stats s USING (pos)),
        iscore AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 CAST(SUM(a.cc * b.cc) AS BIGINT) AS isc
          FROM codes a JOIN codes b USING (pos)
          WHERE a.vec_id < 32 AND a.vec_id != b.vec_id
          GROUP BY 1, 2),
        short AS (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY isc DESC, neighbor_id) AS srank
          FROM iscore)
        SELECT sh.query_id, sh.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY sh.query_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                   c.embedding::DOUBLE[]) DESC, sh.neighbor_id) AS rank,
               ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                 c.embedding::DOUBLE[]), 6) AS cos
        FROM short sh
        JOIN embeddings q ON q.vec_id = sh.query_id
        JOIN embeddings c ON c.vec_id = sh.neighbor_id
        WHERE sh.srank <= 32
        QUALIFY rank <= 5
        ORDER BY query_id, rank""")),

    // ColBERT-style MaxSim late-interaction retrieval: every 8
    // consecutive vectors form one multi-vector "document"; score =
    // Σ over query tokens of the max cosine against the candidate's
    // tokens. Token-level broadcast join + two combine-able aggregates
    // (max per query token, DECIMAL sum) — no corpus collect. The
    // DuckDB oracle recomputes the same late interaction from scratch.
    "q130_maxsim" -> Q(
      run = (s, dir) => {
        val t = Tables(s, dir, "embeddings")
          .withColumn("d", expr("vec_id div 8"))
        Similarity.maxSimTopK(t.filter(col("d") < 4), t, k = 5,
          docCol = "d")
          .orderBy("query_doc", "rank")
      },
      oracle = Some("""
        WITH t AS (SELECT vec_id // 8 AS d, vec_id AS t_id,
                          embedding::DOUBLE[] AS v FROM embeddings),
        s AS (
          SELECT q.d AS query_doc, c.d AS neighbor_doc, q.t_id AS qt,
                 MAX(CAST(ROUND(list_cosine_similarity(q.v, c.v), 6)
                     AS DECIMAL(9,6))) AS m
          FROM t q JOIN t c ON q.d != c.d
          WHERE q.d < 4
          GROUP BY 1, 2, 3),
        sc AS (SELECT query_doc, neighbor_doc,
                      CAST(SUM(m) AS DECIMAL(18,6)) AS score
               FROM s GROUP BY 1, 2)
        SELECT query_doc, neighbor_doc,
               ROW_NUMBER() OVER (PARTITION BY query_doc
                 ORDER BY score DESC, neighbor_doc) AS rank,
               CAST(score AS DOUBLE) AS score
        FROM sc QUALIFY rank <= 5 ORDER BY query_doc, rank""")),

    // Embedding near-dup pairs through sign-LSH band buckets — q41's
    // 100 TB path (equi-join candidates, exact-cosine verify; output is
    // a subset of q41's with precision 1). CERTIFIED: exact pairs are
    // the hash-checked anchor; the LSH result folds into a subset flag
    // (precision 1 by construction) and a recall flag (RecallProbe:
    // 0.949 at 64 bits / 16 bands → floor 0.75).
    "q83_cosine_neardup_lsh" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        // pinned: exact anchors the output AND feeds both flags; approx
        // feeds both flags — un-pinned, the n² verify re-executes per
        // reference (Certify.pin scaladoc)
        val exact = Certify.pin(Similarity.cosineNearDupPairs(emb, 0.4))
        val approx = Certify.pin(Similarity.cosineNearDupPairsLSH(
          emb, 0.4, dim = 64, bits = 64, bands = 16))
        Certify.attach(
          exact.select(col("id_a"), col("id_b"),
            round(col("cos"), 6).as("cos")),
          Certify.subsetFlag(approx, exact, Seq("id_a", "id_b"), "subset_ok"),
          Certify.recallFlag(approx, exact, Seq("id_a", "id_b"),
            0.75, "recall_ok"))
          .orderBy("id_a", "id_b")
      },
      oracle = Some("""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos,
               CAST(1 AS BIGINT) AS subset_ok,
               CAST(1 AS BIGINT) AS recall_ok
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        ORDER BY id_a, id_b""")),

    // The 100 TB form of q103: SemDeDup composed over the LSH-bucketed
    // pair generator instead of exact all-pairs — band-bucket equi-join
    // candidates, exact-cosine verify, then the same star-contraction
    // components. CERTIFIED: the exact survivors (q103's recursive-CTE-
    // checkable output) anchor the hash; the LSH survivor set folds
    // into one agreement flag (RecallProbe: 0.993 survivor agreement at
    // 64 bits / 16 bands → floor 0.9). SimilaritySpec keeps the
    // structural containment proof.
    "q119_semantic_dedup_lsh" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val labels = emb.select(col("vec_id"), col("label"))
        // pinned: anchors the output AND feeds the recall flag
        val exact = Certify.pin(Similarity.semanticDedupSurvivors(emb, 0.4)
          .join(labels, Seq("vec_id"))
          .select(col("vec_id"), col("label"), col("group_size")))
        val approx = Similarity.semanticDedupSurvivors(emb, 0.4,
          pairs = Some(Similarity.cosineNearDupPairsLSH(
            emb, 0.4, dim = 64, bits = 64, bands = 16)))
        Certify.attach(exact,
          Certify.recallFlag(approx, exact, Seq("vec_id"),
            0.9, "agreement_ok"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH RECURSIVE pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]) >= 0.4),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, lbl) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
        comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
        SELECT c.component AS vec_id, e.label,
               CAST(COUNT(*) AS BIGINT) AS group_size,
               CAST(1 AS BIGINT) AS agreement_ok
        FROM comp c JOIN embeddings e ON e.vec_id = c.component
        GROUP BY c.component, e.label ORDER BY vec_id""")),

    // Embedding-space contamination check — q82's vector-space sibling:
    // corpus vectors whose max cosine against a (tiny) benchmark set
    // crosses the threshold. The scale shape: benchmark broadcast,
    // corpus scored map-locally (|corpus| × |bench| dot products with
    // NO shuffle of the corpus), per-vector max is a map-side-combined
    // agg. Deliberate exact scoring against a broadcast dim → the BNLJ
    // is the intended plan (allowlisted); an LSH-bucketed variant would
    // reuse q83's banding if the benchmark ever grew fact-sized.
    "q88_embedding_contamination" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        graft.plans.VectorExpressions.register(s)
        val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
          graft.plans.VectorExpressions.dotProduct(a, b)
        val bench = emb.filter(col("vec_id") < 10)
          .select(col("embedding").as("bv"))
          .withColumn("bn", sqrt(dot(col("bv"), col("bv"))))
        emb.filter(col("vec_id") >= 10)
          .withColumn("cn", sqrt(dot(col("embedding"), col("embedding"))))
          .crossJoin(broadcast(bench))
          .withColumn("cos", dot(col("embedding"), col("bv")) / (col("cn") * col("bn")))
          .groupBy(col("vec_id"))
          .agg(max(col("cos")).as("mx"))
          .filter(col("mx") >= 0.35)
          .select(col("vec_id"), round(col("mx"), 6).as("max_cos"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH bench AS (SELECT embedding FROM embeddings WHERE vec_id < 10),
        m AS (
          SELECT c.vec_id,
                 MAX(list_cosine_similarity(c.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[])) AS mx
          FROM embeddings c, bench b WHERE c.vec_id >= 10
          GROUP BY c.vec_id)
        SELECT vec_id, ROUND(mx, 6) AS max_cos
        FROM m WHERE mx >= 0.35 ORDER BY vec_id""")),

    // Per-label centroids via fixed-point accumulation — the IVF
    // centroid-recompute / class-prototype primitive. Float sums are
    // order-dependent (non-associative), so a distributed mean would
    // vary run-to-run under AQE re-planning; quantizing each component
    // to floor(v * 1e6) makes the sum an exact BIGINT — associative,
    // commutative, plan-invariant, and engine-portable. One
    // posexplode + hash agg on (label, pos): shuffle carries
    // |vectors| × dim small rows; at 100 TB the same agg map-side
    // combines to |labels| × dim per partition.
    "q63_vector_centroids" -> Q(
      run = (s, dir) =>
        Tables(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")))
          .select(col("label"), (col("pos") + 1).cast(LongType).as("pos"),
            floor(col("col").cast(DoubleType) * 1000000L).cast(LongType).as("q"))
          .groupBy(col("label"), col("pos"))
          .agg(count(lit(1)).as("n_vecs"),
            floor(sum(col("q")).cast(DoubleType) / count(lit(1)))
              .cast(LongType).as("centroid_micro"))
          .orderBy("label", "pos"),
      oracle = Some("""
        WITH comp AS (
          SELECT label, generate_subscripts(embedding, 1) AS pos,
                 CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
          FROM embeddings)
        SELECT label, CAST(pos AS BIGINT) AS pos, COUNT(*) AS n_vecs,
               CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS centroid_micro
        FROM comp GROUP BY label, pos ORDER BY label, pos""")),

    // Array algebra surface: per-vector top-3 components by value
    // (position-tie-broken) via posexplode + per-key window — the
    // sparsification / top-k-features primitive. Float values pass
    // through untouched (no cross-engine summation), so the compare is
    // bit-exact. Scale: one explode + partitioned window, map-side
    // combine not needed.
    "q77_array_topk_components" -> Q(
      run = (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id"))
          .orderBy(col("v").desc, col("pos"))
        Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 100)
          .select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("pos"),
            col("col").cast(DoubleType).as("v"))
          .withColumn("rk", row_number().over(w).cast(LongType))
          .filter(col("rk") <= 3)
          .select(col("vec_id"), col("rk"), col("pos"), col("v"))
          .orderBy("vec_id", "rk")
      },
      oracle = Some("""
        WITH comp AS (
          SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
                 CAST(UNNEST(embedding) AS DOUBLE) AS v
          FROM embeddings WHERE vec_id < 100)
        SELECT vec_id,
               CAST(row_number() OVER (PARTITION BY vec_id
                 ORDER BY v DESC, pos) AS BIGINT) AS rk,
               pos, v
        FROM comp
        QUALIFY rk <= 3
        ORDER BY vec_id, rk""")),

    // Hybrid retrieval via Reciprocal Rank Fusion (k = 60, the
    // standard constant): each query document's LEXICAL ranking
    // (distinct-term overlap, the inverted-index side) and DENSE
    // ranking (exact embedding cosine, the q40 side) are fused as
    // rrf = 1/(60+r_lex) + 1/(60+r_dense), top-5 per query — the
    // textbook hybrid-search primitive over the corpus' parallel
    // text/embedding representations (vec_id == doc_id). Scale shape:
    // the lexical side joins query terms (broadcast) to the postings,
    // the dense side is the broadcast-queries brute scan (LSH/IVF are
    // the swap-in scale paths), the fusion itself is ONE outer join of
    // two rank tables on (query, candidate) — rankers compose without
    // touching each other's internals. Parity: ranks are exact
    // integers from deterministic orderings; the fused double is the
    // same two-term sum both sides, ranked after a 6-dp round so
    // ordering never hinges on a ulp.
    "q159_hybrid_rrf" -> Q(
      run = (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
        val emb = Tables(s, dir, "embeddings")
        val terms = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "").distinct()
        val lex = terms.filter(col("doc_id") < 32).toDF("query_id", "term")
          .join(terms.toDF("cand_id", "term"), Seq("term"))
          .filter(col("cand_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("cand_id"))
          .agg(count(lit(1)).as("overlap"))
          .withColumn("rl", row_number().over(Window
            .partitionBy(col("query_id"))
            .orderBy(col("overlap").desc, col("cand_id"))))
          .select(col("query_id"), col("cand_id"), col("rl"))
        val dense = Similarity
          .bruteForceTopK(emb.filter(col("vec_id") < 32), emb, k = 1 << 20)
          .select(col("query_id"), col("neighbor_id").as("cand_id"),
            col("rank").as("rd"))
        val fused = dense.join(lex, Seq("query_id", "cand_id"), "left")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0)) +
              lit(1.0) / (lit(60) + col("rd")), 6))
        fused
          .withColumn("rank", row_number().over(Window
            .partitionBy(col("query_id"))
            .orderBy(col("rrf").desc, col("cand_id"))).cast(LongType))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("cand_id"), col("rank"), col("rrf"))
          .orderBy("query_id", "rank")
      },
      oracle = Some("""
        WITH terms AS (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
            FROM documents) WHERE term <> ''),
        lexr AS (
          SELECT query_id, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY overlap DESC, cand_id) AS rl
          FROM (SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
                       COUNT(*) AS overlap
                FROM terms q JOIN terms c
                  ON q.term = c.term AND c.doc_id != q.doc_id
                WHERE q.doc_id < 32 GROUP BY 1, 2)),
        dense AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                     c.embedding::DOUBLE[]) DESC, c.vec_id) AS rd
          FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
          WHERE q.vec_id < 32),
        fused AS (
          SELECT d.query_id, d.cand_id,
                 ROUND(COALESCE(1.0::DOUBLE / (60 + l.rl), 0.0::DOUBLE) +
                       1.0::DOUBLE / (60 + d.rd), 6) AS rrf
          FROM dense d LEFT JOIN lexr l
            ON l.query_id = d.query_id AND l.cand_id = d.cand_id)
        SELECT query_id, cand_id, rank, rrf FROM (
          SELECT query_id, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, cand_id) AS rank, rrf
          FROM fused)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Exact fixed-point k-means (KMeansFx): k=4 clusters, 2 Lloyd
    // rounds, full assignment table — the clustering stage of
    // cluster-balanced curation (SemDeDup's first step), and the
    // repo's first ORACLE-CHECKED clustering: quantized longs, exact
    // L2², truncated integer centroid means, ties to the smallest
    // cluster — the whole trajectory reproduces bit-for-bit in
    // DuckDB's unrolled 2 rounds. Scale shape: per round one
    // MAP-LOCAL assignment pass (centroids ride as k×d literals — no
    // join) + one combinable (cluster, dim) agg; only k·d rows ever
    // reach the driver.
    "q162_kmeans" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        graft.operators.KMeansFx.assignments(emb, k = 4, iters = 2)
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH q AS (
          SELECT vec_id, i AS dim,
                 CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000)
                   AS BIGINT) AS x
          FROM embeddings,
               (SELECT UNNEST(generate_series(1, 64)) AS i) g),
        seed AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
                 FROM (SELECT vec_id FROM embeddings
                       ORDER BY vec_id LIMIT 4)),
        c0 AS (SELECT s.cl, q.dim, q.x FROM seed s JOIN q USING (vec_id)),
        dist1 AS (SELECT q.vec_id, c.cl,
                         SUM((q.x - c.x) * (q.x - c.x)) AS d2
                  FROM q JOIN c0 c USING (dim) GROUP BY 1, 2),
        asg1 AS (SELECT vec_id, cl FROM (
                   SELECT vec_id, cl, ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d2, cl) AS rn
                   FROM dist1) WHERE rn = 1),
        upd1 AS (SELECT a.cl, q.dim,
                        CAST(SUM(q.x) // COUNT(*) AS BIGINT) AS x
                 FROM asg1 a JOIN q USING (vec_id) GROUP BY a.cl, q.dim),
        c1 AS (SELECT c0.cl, c0.dim, COALESCE(u.x, c0.x) AS x
               FROM c0 LEFT JOIN upd1 u
                 ON c0.cl = u.cl AND c0.dim = u.dim),
        dist2 AS (SELECT q.vec_id, c.cl,
                         SUM((q.x - c.x) * (q.x - c.x)) AS d2
                  FROM q JOIN c1 c USING (dim) GROUP BY 1, 2),
        asg2 AS (SELECT vec_id, cl FROM (
                   SELECT vec_id, cl, ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d2, cl) AS rn
                   FROM dist2) WHERE rn = 1),
        upd2 AS (SELECT a.cl, q.dim,
                        CAST(SUM(q.x) // COUNT(*) AS BIGINT) AS x
                 FROM asg2 a JOIN q USING (vec_id) GROUP BY a.cl, q.dim),
        c2 AS (SELECT c1.cl, c1.dim, COALESCE(u.x, c1.x) AS x
               FROM c1 LEFT JOIN upd2 u
                 ON c1.cl = u.cl AND c1.dim = u.dim),
        dist3 AS (SELECT q.vec_id, c.cl,
                         SUM((q.x - c.x) * (q.x - c.x)) AS d2
                  FROM q JOIN c2 c USING (dim) GROUP BY 1, 2),
        asg3 AS (SELECT vec_id, cl FROM (
                   SELECT vec_id, cl, ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d2, cl) AS rn
                   FROM dist3) WHERE rn = 1)
        SELECT vec_id, CAST(cl AS BIGINT) AS cluster
        FROM asg3 ORDER BY vec_id""")),

    // Cluster-balanced subsample composing q162's assignment with the
    // q48 keyed-md5 deterministic pick: the 20 smallest-md5(vec_id)
    // vectors per k-means cluster — uniform pressure on every region
    // of embedding space regardless of cluster mass (the curation
    // counterweight to frequency-proportional sampling). One window
    // over the assignment table; md5 rank is engine-portable.
    "q163_cluster_sample" -> Q(
      run = (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        graft.operators.KMeansFx.assignments(emb, k = 4, iters = 2)
          .withColumn("rank", row_number().over(Window
            .partitionBy(col("cluster"))
            .orderBy(md5(col("vec_id").cast("string")),
              col("vec_id"))).cast(LongType))
          .filter(col("rank") <= 20)
          .select(col("cluster"), col("rank"), col("vec_id"))
          .orderBy("cluster", "rank")
      },
      oracle = Some("""
        WITH q AS (
          SELECT vec_id, i AS dim,
                 CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000)
                   AS BIGINT) AS x
          FROM embeddings,
               (SELECT UNNEST(generate_series(1, 64)) AS i) g),
        seed AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
                 FROM (SELECT vec_id FROM embeddings
                       ORDER BY vec_id LIMIT 4)),
        c0 AS (SELECT s.cl, q.dim, q.x FROM seed s JOIN q USING (vec_id)),
        dist1 AS (SELECT q.vec_id, c.cl,
                         SUM((q.x - c.x) * (q.x - c.x)) AS d2
                  FROM q JOIN c0 c USING (dim) GROUP BY 1, 2),
        asg1 AS (SELECT vec_id, cl FROM (
                   SELECT vec_id, cl, ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d2, cl) AS rn
                   FROM dist1) WHERE rn = 1),
        upd1 AS (SELECT a.cl, q.dim,
                        CAST(SUM(q.x) // COUNT(*) AS BIGINT) AS x
                 FROM asg1 a JOIN q USING (vec_id) GROUP BY a.cl, q.dim),
        c1 AS (SELECT c0.cl, c0.dim, COALESCE(u.x, c0.x) AS x
               FROM c0 LEFT JOIN upd1 u
                 ON c0.cl = u.cl AND c0.dim = u.dim),
        dist2 AS (SELECT q.vec_id, c.cl,
                         SUM((q.x - c.x) * (q.x - c.x)) AS d2
                  FROM q JOIN c1 c USING (dim) GROUP BY 1, 2),
        asg2 AS (SELECT vec_id, cl FROM (
                   SELECT vec_id, cl, ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d2, cl) AS rn
                   FROM dist2) WHERE rn = 1),
        upd2 AS (SELECT a.cl, q.dim,
                        CAST(SUM(q.x) // COUNT(*) AS BIGINT) AS x
                 FROM asg2 a JOIN q USING (vec_id) GROUP BY a.cl, q.dim),
        c2 AS (SELECT c1.cl, c1.dim, COALESCE(u.x, c1.x) AS x
               FROM c1 LEFT JOIN upd2 u
                 ON c1.cl = u.cl AND c1.dim = u.dim),
        dist3 AS (SELECT q.vec_id, c.cl,
                         SUM((q.x - c.x) * (q.x - c.x)) AS d2
                  FROM q JOIN c2 c USING (dim) GROUP BY 1, 2),
        asg3 AS (SELECT vec_id, cl FROM (
                   SELECT vec_id, cl, ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d2, cl) AS rn
                   FROM dist3) WHERE rn = 1)
        SELECT CAST(cl AS BIGINT) AS cluster, rank, vec_id FROM (
          SELECT cl, vec_id, ROW_NUMBER() OVER (PARTITION BY cl
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rank
          FROM asg3)
        WHERE rank <= 20 ORDER BY cluster, rank""")),

    // Corpus-wide kNN GRAPH, exact form (every vector a query, top-5
    // cosine neighbors each) — the substrate for embedding-space
    // curation: edges feed label propagation (q160), connected
    // components, or retrieval. This brute realization is the ORACLE
    // TWIN of q166's IVF-blocked form (the q103/q119 pairing): fine at
    // oracle scale, but its broadcast-the-query-side shape cannot
    // scale when the query side IS the corpus.
    "q165_knn_graph" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb, k = 5, wide = true)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      oracle = Some("""
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rank,
               ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        QUALIFY rank <= 5
        ORDER BY query_id, rank""")),

    // The 100 TB form of q165: both corpus copies get IVF cell ids
    // map-locally and candidates come from ONE hash equi-join on the
    // cell (stored side in its home cell, probing side exploded to its
    // nprobe nearest cells) — no corpus broadcast, no cross join;
    // shuffle is nprobe·|corpus| rows. Approximate by construction.
    // CERTIFIED: the exact q165 graph is the hash-checked anchor and
    // the IVF graph folds into one edge-recall flag (RecallProbe:
    // 0.795 at nprobe=8 → floor 0.6); SimilaritySpec pins per-query
    // behavior.
    "q166_knn_graph_ivf" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        certifiedTopK(
          Similarity.bruteForceTopK(emb, emb, k = 5, wide = true),
          Similarity.knnGraphIvf(emb, k = 5, nlist = 16, nprobe = 8),
          floor = 0.6, pinExact = true)
      },
      oracle = Some(exactTopkSql("", "recall_ok"))),

    // Persisted IVF index (IvfIndex: centroids sidecar + CELL-CLUSTERED
    // vectors with per-file cell stats) — the vector member of the
    // persisted-index family (q125 PQ, q133 LSH, q139 spans). Queries
    // seek straight into their probe cells via manifest file-skipping
    // (a `cell IN (...)` scan); search is bit-identical to in-memory ivfTopK on
    // the same corpus/params (IvfIndexSpec pins equality, file
    // skipping, and stored-centroid appends). CERTIFIED vs the exact
    // twin — search ≡ ivfTopK on the same corpus/params (spec-pinned),
    // so the nprobe=6 floor matches q43's (RecallProbe: 0.825 → 0.6).
    "q172_ivf_index" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_ivf_ix").resolve("ix").toString
        val emb = Tables(s, dir, "embeddings")
        graft.operators.IvfIndex.build(emb, root, nlist = 16)
        val q = emb.filter(col("vec_id") < 32)
        certifiedTopK(
          Similarity.bruteForceTopK(q, emb, k = 5),
          graft.operators.IvfIndex.topK(s, q, root, k = 5, nprobe = 6),
          floor = 0.6)
      },
      oracle = Some(exactTopkSql("WHERE q.vec_id < 32", "recall_ok"))),

    // PERSISTED IVF+PQ composite index (IvfPqIndex) — the IVFADC form
    // a 100 TB corpus actually serves: cell-clustered code rows
    // (manifest-pruned `cell IN (...)` probes) carrying PQ-compressed
    // RESIDUALS; queries open only their probed cells' files, score
    // by base + ADC, and exact-rescore the shortlist against the
    // full-precision corpus. Built on 3/4 of the corpus, the last
    // quarter APPENDED with the stored centroids+codebook (no
    // retrain); IvfPqIndexSpec pins search ≡ in-memory ivfPqTopK on a
    // same-corpus build plus the opened-files prune. CERTIFIED vs the
    // exact twin at q123's floor less the appended-quarter drift —
    // floor 0.5 (q125's split convention).
    "q287_ivfpq_index" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_ivfpq_ix").resolve("ix").toString
        val emb = Tables(s, dir, "embeddings")
        val b = col("vec_id") % 4
        graft.operators.IvfPqIndex.build(
          emb.filter(b =!= 0), root, dim = 64)
        graft.operators.IvfPqIndex.append(emb.filter(b === 0), root)
        val q = emb.filter(col("vec_id") < 32)
        certifiedTopK(
          Similarity.bruteForceTopK(q, emb, k = 5),
          graft.operators.IvfPqIndex.search(q, emb, root, k = 5,
            nprobe = 8, refine = 8),
          floor = 0.5, pinExact = true)
      },
      oracle = Some(exactTopkSql("WHERE q.vec_id < 32", "recall_ok"))),

    // ANN index maintenance under DRIFT (IvfIndex.reclusterIfDrifted):
    // build on the first half of the corpus, append the second half
    // with the stored centroids (the silent-degradation regime), then
    // the drift dial — a 0.6 threshold correctly refuses (noop_ok; the
    // appended mass is 0.5), a 0.5 threshold retrains the centroids on
    // the stored vectors and rewrites cell-clustered (retrained_ok).
    // Post-recluster search ≡ a fresh full-corpus build bit-for-bit
    // (IvfIndexSpec pins it — deterministic lowest-id seeds + one
    // Lloyd pass over the same (id, vec) set), so the certified floor
    // is q172's same-corpus 0.6 at nprobe=6 with NO appended-drift
    // discount — the point of the recluster.
    "q293_ivf_recluster" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_ivf_rc").resolve("ix").toString
        val emb = Tables(s, dir, "embeddings")
        graft.operators.IvfIndex.build(
          emb.filter(col("vec_id") < 250), root, nlist = 16)
        graft.operators.IvfIndex.append(
          emb.filter(col("vec_id") >= 250), root)
        val early = graft.operators.IvfIndex.reclusterIfDrifted(
          s, root, threshold = 0.6)
        val ran = graft.operators.IvfIndex.reclusterIfDrifted(
          s, root, threshold = 0.5)
        val q = emb.filter(col("vec_id") < 32)
        certifiedTopK(
          Similarity.bruteForceTopK(q, emb, k = 5),
          graft.operators.IvfIndex.topK(s, q, root, k = 5, nprobe = 6),
          floor = 0.6, pinExact = true)
          .withColumn("noop_ok", lit(if (early) 0L else 1L))
          .withColumn("retrained_ok", lit(if (ran) 1L else 0L))
      },
      oracle = Some(exactTopkSql("WHERE q.vec_id < 32",
        "recall_ok", "noop_ok", "retrained_ok"))),

    // The full ANN lifecycle through the STREAMING door
    // (runAnnIngestAvailableNow): the first micro-batch BUILDS the
    // index (txn-stamped bootstrap), the second appends with the
    // stored centroids, the 50% appended mass trips the drift dial and
    // the centroids retrain — so the served index equals a fresh
    // full-corpus build (IvfIndexSpec pins bit-equality) and the
    // recall floor is the no-discount 0.6. A full re-run of the door
    // replays every batchId and must move NOTHING (replay_ok).
    "q295_ann_ingest" -> Q(
      bench = false,
      run = (s, dir) => {
        val flat = tempRoot("graft_ann_gate_in").resolve("p").toString
        val root = tempRoot("graft_ann_gate_ix").resolve("ix").toString
        val emb = Tables(s, dir, "embeddings")
        emb.filter(col("vec_id") < 250).select("vec_id", "embedding")
          .repartition(1).write.mode("overwrite").parquet(flat)
        emb.filter(col("vec_id") >= 250).select("vec_id", "embedding")
          .repartition(1).write.mode("append").parquet(flat)
        graft.streaming.StreamingJobs.runAnnIngestAvailableNow(
          s, flat, root, nlist = 16, driftThreshold = 0.5)
        val cells = new java.io.File(root, "cells").getPath
        val vs = graft.sources.VersionedTable.versions(cells)
        graft.streaming.StreamingJobs.runAnnIngestAvailableNow(
          s, flat, root, nlist = 16, driftThreshold = 0.5)
        val replayOk = graft.sources.VersionedTable.versions(cells) == vs
        val q = emb.filter(col("vec_id") < 32)
        certifiedTopK(
          Similarity.bruteForceTopK(q, emb, k = 5),
          graft.operators.IvfIndex.topK(s, q, root, k = 5, nprobe = 6),
          floor = 0.6)
          .withColumn("replay_ok", lit(if (replayOk) 1L else 0L))
      },
      oracle = Some(exactTopkSql("WHERE q.vec_id < 32",
        "recall_ok", "replay_ok"))),

    // The COMPOSITE-index lifecycle through the STREAMING door
    // (runIvfPqIngestAvailableNow): corpus table and IVFADC index
    // maintained together exactly-once — the first micro-batch builds
    // centroids + residual codebook (txn-stamped bootstrap), the
    // second appends with the stored model, the 50% appended mass
    // trips the drift dial and the WHOLE model retrains over the
    // corpus table — so the served index equals a fresh full-corpus
    // build (IvfPqIndexSpec pins equality; training is order-free:
    // lowest-id seeds + quantized integer sums). A full door re-run
    // replays every batchId and must move NEITHER table (replay_ok).
    // Exact rescore reads the door's own corpus table.
    "q300_ivfpq_ingest" -> Q(
      bench = false,
      run = (s, dir) => {
        val flat = tempRoot("graft_ivfpq_gate_in").resolve("p").toString
        val root = tempRoot("graft_ivfpq_gate").resolve("r").toString
        val emb = Tables(s, dir, "embeddings")
        emb.filter(col("vec_id") < 250).select("vec_id", "embedding")
          .repartition(1).write.mode("overwrite").parquet(flat)
        emb.filter(col("vec_id") >= 250).select("vec_id", "embedding")
          .repartition(1).write.mode("append").parquet(flat)
        graft.streaming.StreamingJobs.runIvfPqIngestAvailableNow(
          s, flat, root, dim = 64, nlist = 16, driftThreshold = 0.5)
        val corpusRoot = new java.io.File(root, "corpus").getPath
        val indexRoot = new java.io.File(root, "index").getPath
        val codes = new java.io.File(indexRoot, "codes").getPath
        val vs = graft.sources.VersionedTable.versions(codes)
        val cv = graft.sources.VersionedTable.versions(corpusRoot)
        graft.streaming.StreamingJobs.runIvfPqIngestAvailableNow(
          s, flat, root, dim = 64, nlist = 16, driftThreshold = 0.5)
        val replayOk =
          graft.sources.VersionedTable.versions(codes) == vs &&
            graft.sources.VersionedTable.versions(corpusRoot) == cv
        val corpus = graft.sources.VersionedTable.read(s, corpusRoot)
        val q = emb.filter(col("vec_id") < 32)
        certifiedTopK(
          Similarity.bruteForceTopK(q, emb, k = 5),
          graft.operators.IvfPqIndex.search(q, corpus, indexRoot, k = 5,
            nprobe = 8, refine = 8),
          floor = 0.5)
          .withColumn("replay_ok", lit(if (replayOk) 1L else 0L))
      },
      oracle = Some(exactTopkSql("WHERE q.vec_id < 32",
        "recall_ok", "replay_ok"))),

    // Clustering EVALUATION: per-cluster purity of the q162 fixed-point
    // k-means assignment against the ground-truth labels the
    // embeddings fixture carries — the standard quick audit before
    // trusting a clustering for curation (cluster-balanced sampling,
    // SemDeDup pruning). Exact integers end-to-end: the same unrolled
    // Lloyd trajectory as q162, then one (cluster, label) count and a
    // top-label window. Output: (cluster, n_vecs, top_label, top_n) —
    // overall purity = Σ top_n / Σ n_vecs.
    "q173_cluster_purity" -> Q(
      run = (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables(s, dir, "embeddings")
        val asg = graft.operators.KMeansFx.assignments(
          emb.select(col("vec_id"), col("embedding")), k = 4, iters = 2)
        val counts = asg
          .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
          .groupBy(col("cluster"), col("label"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("cluster"))
          .orderBy(col("n").desc, col("label"))
        counts
          .withColumn("rn", row_number().over(w))
          .withColumn("n_vecs", sum(col("n")).over(
            Window.partitionBy(col("cluster"))))
          .filter(col("rn") === 1)
          .select(col("cluster"), col("n_vecs"),
            col("label").cast(LongType).as("top_label"),
            col("n").as("top_n"))
          .orderBy("cluster")
      },
      oracle = Some("""
        WITH q AS (
          SELECT vec_id, i AS dim,
                 CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000)
                   AS BIGINT) AS x
          FROM embeddings,
               (SELECT UNNEST(generate_series(1, 64)) AS i) g),
        seed AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
                 FROM (SELECT vec_id FROM embeddings
                       ORDER BY vec_id LIMIT 4)),
        c0 AS (SELECT s.cl, q.dim, q.x FROM seed s JOIN q USING (vec_id)),
        dist1 AS (SELECT q.vec_id, c.cl,
                         SUM((q.x - c.x) * (q.x - c.x)) AS d2
                  FROM q JOIN c0 c USING (dim) GROUP BY 1, 2),
        asg1 AS (SELECT vec_id, cl FROM (
                   SELECT vec_id, cl, ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d2, cl) AS rn
                   FROM dist1) WHERE rn = 1),
        upd1 AS (SELECT a.cl, q.dim,
                        CAST(SUM(q.x) // COUNT(*) AS BIGINT) AS x
                 FROM asg1 a JOIN q USING (vec_id) GROUP BY a.cl, q.dim),
        c1 AS (SELECT c0.cl, c0.dim, COALESCE(u.x, c0.x) AS x
               FROM c0 LEFT JOIN upd1 u
                 ON c0.cl = u.cl AND c0.dim = u.dim),
        dist2 AS (SELECT q.vec_id, c.cl,
                         SUM((q.x - c.x) * (q.x - c.x)) AS d2
                  FROM q JOIN c1 c USING (dim) GROUP BY 1, 2),
        asg2 AS (SELECT vec_id, cl FROM (
                   SELECT vec_id, cl, ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d2, cl) AS rn
                   FROM dist2) WHERE rn = 1),
        upd2 AS (SELECT a.cl, q.dim,
                        CAST(SUM(q.x) // COUNT(*) AS BIGINT) AS x
                 FROM asg2 a JOIN q USING (vec_id) GROUP BY a.cl, q.dim),
        c2 AS (SELECT c1.cl, c1.dim, COALESCE(u.x, c1.x) AS x
               FROM c1 LEFT JOIN upd2 u
                 ON c1.cl = u.cl AND c1.dim = u.dim),
        dist3 AS (SELECT q.vec_id, c.cl,
                         SUM((q.x - c.x) * (q.x - c.x)) AS d2
                  FROM q JOIN c2 c USING (dim) GROUP BY 1, 2),
        asg3 AS (SELECT vec_id, cl FROM (
                   SELECT vec_id, cl, ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d2, cl) AS rn
                   FROM dist3) WHERE rn = 1),
        j AS (SELECT a.cl, e.label FROM asg3 a
              JOIN embeddings e USING (vec_id)),
        g AS (SELECT cl, label, COUNT(*) AS n FROM j GROUP BY 1, 2),
        t AS (SELECT cl, CAST(SUM(n) AS BIGINT) AS n_vecs FROM g GROUP BY cl),
        top AS (SELECT cl, CAST(label AS BIGINT) AS top_label,
                       CAST(n AS BIGINT) AS top_n,
                       ROW_NUMBER() OVER (PARTITION BY cl
                         ORDER BY n DESC, label) AS rn
                FROM g)
        SELECT CAST(t.cl AS BIGINT) AS cluster, t.n_vecs,
               top.top_label, top.top_n
        FROM t JOIN top ON t.cl = top.cl AND top.rn = 1
        ORDER BY cluster""")),

    // EXACT fixed-point Gram / sufficient-statistics matrix
    // ([[graft.operators.LinAlg]]): one map-side-combinable agg whose
    // shuffle carries a single 2145-cell buffer per partition — the
    // one-pass PCA/covariance primitive. The bias row (i=0) carries
    // n·scale² and the per-dim sums, so mean + covariance numerators
    // all derive from this frame. The oracle computes the SAME matrix
    // the way the agg avoids — explode to N·d rows and self-join to
    // N·d² — certifying every integer of the fast path.
    "q224_gram_matrix" -> Q(
      run = (s, dir) =>
        graft.operators.LinAlg.gramWithBias(
          Tables(s, dir, "embeddings").select(col("embedding")),
          col("embedding"), 64)
          // canonical integer VARCHAR for wide cells (cau_4_decimal
          // convention): raw DECIMAL(38,0) outputs hash-canonicalize
          // differently across engines even when values are identical
          .select(col("i"), col("j"), col("s").cast(StringType).as("s"))
          .orderBy(col("i"), col("j")),
      oracle = Some("""
        WITH q AS (
          SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i,
                 CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1024) AS BIGINT) AS qx
          FROM embeddings),
        qq AS (
          SELECT vec_id, CAST(0 AS BIGINT) AS i, CAST(1024 AS BIGINT) AS qx
          FROM embeddings
          UNION ALL SELECT vec_id, i, qx FROM q)
        SELECT a.i AS i, b.i AS j,
               CAST(CAST(SUM(CAST(a.qx AS DECIMAL(18,0)) * b.qx) AS HUGEINT) AS VARCHAR) AS s
        FROM qq a JOIN qq b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2 ORDER BY i, j""")),

    // Johnson–Lindenstrauss ±1 random projection (Achlioptas 2003) in
    // exact fixed point ([[graft.operators.LinAlg.randomProject]]):
    // ONE map-local native expression with the md5-derived sign
    // matrix as a plan-time field — no join, no shuffle, O(1) plan
    // size. Signs are a pure function of (j, i), so the oracle
    // REBUILDS the matrix in SQL and replays the projection exactly —
    // the dimensionality-reduction front end for ANN/clustering is
    // itself oracle-checked, not spec-bounded.
    "q225_random_projection" -> Q(
      run = (s, dir) =>
        graft.operators.LinAlg.randomProject(
          Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
          col("embedding"), 64, 16)
          .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "y")))
          .select(col("vec_id"), col("j").cast(LongType).as("j"), col("y"))
          .orderBy("vec_id", "j"),
      oracle = Some("""
        WITH q AS (
          SELECT vec_id,
                 CAST(generate_subscripts(embedding, 1) AS BIGINT) - 1 AS i,
                 CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1024) AS BIGINT) AS qx
          FROM embeddings),
        s AS (
          SELECT j.j, i.i,
                 CASE WHEN substr(md5(j.j || '_' || i.i), 1, 1)
                           BETWEEN '0' AND '7' THEN 1 ELSE -1 END AS sgn
          FROM range(16) j(j), range(64) i(i))
        SELECT q.vec_id, CAST(s.j AS BIGINT) AS j,
               CAST(SUM(s.sgn * q.qx) AS BIGINT) AS y
        FROM q JOIN s USING (i)
        GROUP BY 1, 2 ORDER BY vec_id, j""")),

    // PCA top-component projection, EXACT end to end
    // ([[graft.operators.LinAlg.topComponentFixedPoint]]): the Gram
    // triangle (dim-sized — the only driver traffic) feeds 7 rescaled
    // integer matrix SQUARINGS (≡ 128 plain power rounds — needed on
    // this near-isotropic spectrum, measured in LinAlgSpec); the
    // resulting weight vector rides back as a FixedDot plan constant
    // for a map-local corpus projection. No float normalization
    // anywhere, so the oracle REPLAYS the identical squaring chain in
    // HUGEINT ([[graft.operators.LinAlg.pcaOracleSql]] — generated
    // beside the operator so the arithmetic can only drift in one
    // place) — distributed PCA certified bit-for-bit.
    "q227_pca_projection" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val v = graft.operators.LinAlg.topComponentFixedPoint(
          emb, col("embedding"), 64)
        graft.operators.LinAlg.projectFixed(emb, col("embedding"), v)
          .select(col("vec_id"), col("p"))
          .orderBy("vec_id")
      },
      oracle = Some(graft.operators.LinAlg.pcaOracleSql(
        "embeddings", "vec_id", "embedding"))),

    // CLASS-CONDITIONAL Gram matrices (Fisher/LDA sufficient
    // statistics, per-domain covariance) — q224's aggregate under a
    // groupBy: one dim²/2 buffer PER LABEL per partition, map-side
    // combined; the shuffle carries |labels|·2080 cells, never a
    // vector. Same N·d² self-join oracle, per label.
    "q229_group_gram" -> Q(
      run = (s, dir) =>
        graft.operators.LinAlg.gramByGroup(
          Tables(s, dir, "embeddings")
            .select(col("label").cast(LongType).as("label"),
              col("embedding")),
          "label", col("embedding"), 64)
          .select(col("label"), col("i"), col("j"),
            col("s").cast(StringType).as("s"))
          .orderBy(col("label"), col("i"), col("j")),
      oracle = Some("""
        WITH q AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label,
                 CAST(generate_subscripts(embedding, 1) AS BIGINT) - 1 AS i,
                 CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1024) AS BIGINT) AS qx
          FROM embeddings)
        SELECT a.label AS label, a.i AS i, b.i AS j,
               CAST(CAST(SUM(CAST(a.qx AS DECIMAL(18,0)) * b.qx) AS HUGEINT) AS VARCHAR) AS s
        FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2, 3 ORDER BY label, i, j""")),

    // INCREMENTAL sufficient-statistics maintenance
    // ([[graft.sources.MaterializedView.refreshGram]]): the Gram
    // matrix is cell-wise ADDITIVE over appends, so the view refreshes
    // by gram-aggregating ONLY the changes feed and adding into the
    // stored dim²/2 cells — PCA/covariance statistics trail the
    // corpus with O(new files) reads and dim-sized state, never a
    // rescan. Two refreshes across an append here; the oracle
    // recomputes the full matrix from scratch — any double-applied or
    // missed delta breaks exact integer equality.
    "q232_gram_view" -> Q(
      run = (s, dir) => {
        val src = tempRoot("graft_q232_s").resolve("t").toString
        val view = tempRoot("graft_q232_v").resolve("v").toString
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        graft.sources.VersionedTable.overwrite(
          emb.filter(col("vec_id") % 5 =!= 0), src)
        graft.sources.MaterializedView.refreshGram(s, src, view, "embedding", 64)
        graft.sources.VersionedTable.append(
          emb.filter(col("vec_id") % 5 === 0), src)
        graft.sources.MaterializedView.refreshGram(s, src, view, "embedding", 64)
        graft.sources.MaterializedView.readGram(s, view)
          .select(col("i"), col("j"), col("s").cast(StringType).as("s"))
          .orderBy(col("i"), col("j"))
      },
      oracle = Some("""
        WITH q AS (
          SELECT vec_id,
                 CAST(generate_subscripts(embedding, 1) AS BIGINT) - 1 AS i,
                 CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1024) AS BIGINT) AS qx
          FROM embeddings)
        SELECT a.i AS i, b.i AS j,
               CAST(CAST(SUM(CAST(a.qx AS DECIMAL(18,0)) * b.qx) AS HUGEINT) AS VARCHAR) AS s
        FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2 ORDER BY i, j""")),

    // INCREMENTAL PCA capstone: the top component computed FROM THE
    // INCREMENTALLY-MAINTAINED GRAM VIEW (q232's refreshGram across
    // an append), never from a corpus rescan — the statistics trail
    // the table, the eigensolve reads dim²/2 view cells, the
    // projection is map-local. Because the view equals the
    // from-scratch gram EXACTLY, the result must hash-match q227's
    // full-recompute oracle verbatim.
    "q233_pca_incremental" -> Q(
      run = (s, dir) => {
        val src = tempRoot("graft_q233_s").resolve("t").toString
        val view = tempRoot("graft_q233_v").resolve("v").toString
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        graft.sources.VersionedTable.overwrite(
          emb.filter(col("vec_id") % 4 =!= 0), src)
        graft.sources.MaterializedView.refreshGram(s, src, view, "embedding", 64)
        graft.sources.VersionedTable.append(
          emb.filter(col("vec_id") % 4 === 0), src)
        graft.sources.MaterializedView.refreshGram(s, src, view, "embedding", 64)
        val v = graft.operators.LinAlg.topComponentOfGram(
          graft.sources.MaterializedView.readGram(s, view), 64)
        graft.operators.LinAlg.projectFixed(emb, col("embedding"), v)
          .select(col("vec_id"), col("p"))
          .orderBy("vec_id")
      },
      oracle = Some(graft.operators.LinAlg.pcaOracleSql(
        "embeddings", "vec_id", "embedding"))),

    // 2-D PCA scatter (corpus maps / outlier trims): second component
    // via EXACT integer deflation — G₂ = P·A₀·P with the projector
    // P = (v₁ᵀv₁)I − v₁v₁ᵀ annihilating v₁ identically — then the
    // same squaring chain on G₂. Both weight vectors ride back as
    // FixedDot plan constants (two map-local projections, no
    // shuffle). The oracle replays both chains + the deflation in
    // HUGEINT (magnitude audit in the operator doc: |G₂| ≤ 2¹¹⁴).
    "q234_pca_2d" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val (v1, v2) = graft.operators.LinAlg.topTwoComponentsOfGram(
          graft.operators.LinAlg.gramFixedPoint(emb, col("embedding"), 64), 64)
        graft.operators.LinAlg.projectFixed(
          graft.operators.LinAlg.projectFixed(emb, col("embedding"), v1, "p1"),
          col("embedding"), v2, "p2")
          .select(col("vec_id"), col("p1"), col("p2"))
          .orderBy("vec_id")
      },
      oracle = Some(graft.operators.LinAlg.pca2OracleSql(
        "embeddings", "vec_id", "embedding"))),

    // ----------------------------------------------------------------
    // Weighted (tf·idf) cosine similarity join over TEXT — the
    // weighted complement of q31's unweighted Jaccard set-sim join:
    // pairs sharing RARE vocabulary score high even at modest set
    // overlap. Integer idf surrogate (N div df) keeps the weights
    // exact BIGINT; the only floats are one correctly-rounded sqrt
    // per norm + one divide per pair, mirrored token-for-token by the
    // oracle. Candidate generation is the posting-list equi-join with
    // the df cap (Σ df² over capped df, never corpus²) — the cap is
    // the 100 TB dial AND principled: df > cap ⇒ idf ≈ 0 ⇒ the
    // dropped pairs score ~0 anyway (graft.operators
    // .SparseCosineJoin).
    "q251_sparse_cosine_join" -> Q(
      run = (s, dir) =>
        graft.operators.SparseCosineJoin.pairs(
          Tables(s, dir, "documents"), "doc_id", "text",
          dfCap = 400L, minCos = 0.9)
          .select(col("id_a"), col("id_b"), col("dot"),
            round(col("cos"), 6).as("cos"))
          .orderBy("id_a", "id_b"),
      oracle = Some("""
        WITH tf AS (
          SELECT id, token, COUNT(*) AS tf FROM (
            SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
            FROM documents)
          GROUP BY 1, 2),
        dfv AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        w AS (
          SELECT t.token, t.id, t.tf * (n.n_docs // d.df) AS w
          FROM tf t JOIN dfv d USING (token) CROSS JOIN n
          WHERE d.df <= 400),
        norms AS (SELECT id, SUM(w * w) AS norm2 FROM w GROUP BY 1),
        dots AS (
          SELECT a.id AS id_a, b.id AS id_b, SUM(a.w * b.w) AS dot
          FROM w a JOIN w b ON a.token = b.token AND a.id < b.id
          GROUP BY 1, 2)
        SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
               ROUND(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.norm2 AS DOUBLE))
                    * sqrt(CAST(nb.norm2 AS DOUBLE))), 6) AS cos
        FROM dots
        JOIN norms na ON na.id = dots.id_a
        JOIN norms nb ON nb.id = dots.id_b
        WHERE CAST(dot AS DOUBLE)
              / (sqrt(CAST(na.norm2 AS DOUBLE))
                 * sqrt(CAST(nb.norm2 AS DOUBLE))) >= 0.9
        ORDER BY id_a, id_b""")),

    // ----------------------------------------------------------------
    // Margin-based bitext mining (Artetxe & Schwenk 2019 ratio
    // margin) — the parallel-corpus mining stage of a translation
    // pipeline: label-0 vectors mined against label-1, each candidate
    // scored by its cosine RELATIVE to both endpoints' top-4
    // neighborhoods (hubs deflate), best-margin partner kept at
    // margin ≥ 1.1. Cosines are 6-dp-quantized to BIGINT before the
    // neighborhood sums so every aggregate is order-free integers —
    // the oracle replays the whole selection. Gate-scale candidates
    // are the allowlisted exact brute; the LSH equi-join swaps in at
    // corpus scale (operator scaladoc).
    "q262_bitext_margin" -> Q(
      run = (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.marginMining(
          emb.filter(col("label") === 0), emb.filter(col("label") === 1),
          k = 4, thresholdPpm = 1100000L)
          .orderBy("id_a")
      },
      oracle = Some("""
        WITH av AS (SELECT vec_id AS id_a, embedding FROM embeddings
                    WHERE label = 0),
        bv AS (SELECT vec_id AS id_b, embedding FROM embeddings
               WHERE label = 1),
        scored AS (
          SELECT id_a, id_b,
                 CAST(round(list_cosine_similarity(a.embedding::DOUBLE[],
                        b.embedding::DOUBLE[]) * 1000000) AS BIGINT) AS cos_u
          FROM av a CROSS JOIN bv b),
        ka AS (SELECT id_a, SUM(cos_u) AS ka, COUNT(*) AS na_k FROM (
                 SELECT *, row_number() OVER (PARTITION BY id_a
                   ORDER BY cos_u DESC, id_b) r FROM scored)
               WHERE r <= 4 GROUP BY 1),
        kb AS (SELECT id_b, SUM(cos_u) AS kb, COUNT(*) AS nb_k FROM (
                 SELECT *, row_number() OVER (PARTITION BY id_b
                   ORDER BY cos_u DESC, id_a) r FROM scored)
               WHERE r <= 4 GROUP BY 1),
        m AS (
          SELECT s.id_a, s.id_b, s.cos_u,
                 2 * s.cos_u * ka.na_k * kb.nb_k * 1000000
                   // (ka.ka * kb.nb_k + kb.kb * ka.na_k) AS margin_ppm
          FROM scored s
          JOIN ka ON s.id_a = ka.id_a JOIN kb ON s.id_b = kb.id_b
          WHERE s.cos_u > 0
            AND ka.ka * kb.nb_k + kb.kb * ka.na_k > 0),
        best AS (SELECT *, row_number() OVER (PARTITION BY id_a
                   ORDER BY margin_ppm DESC, id_b) rk FROM m)
        SELECT id_a, id_b, cos_u, CAST(margin_ppm AS BIGINT) AS margin_ppm
        FROM best WHERE rk = 1 AND margin_ppm >= 1100000
        ORDER BY id_a"""))
  )
}
