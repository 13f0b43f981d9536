package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Embedding similarity search over the `embeddings` table (64-dim
  * Array[Float] + label), the ANN layer of an LLM-data pipeline.
  *
  * Determinism across engines: float32×float32 is EXACT in double, and both
  * sides reduce strictly left-to-right in double (Spark `aggregate` HOF /
  * DuckDB `list_reduce`), so dot products and norms are bit-identical;
  * `sqrt` is IEEE correctly-rounded. Ranking happens on the full-precision
  * double with vec_id tie-breakers; only display columns are rounded.
  *
  * Scale design: q50 is the brute-force baseline — a broadcast of Q query
  * vectors against N rows, cost Q×N, the right plan when Q is small. q51 is
  * the scale path: sign-LSH buckets (hyperoctant of the leading dims) turn
  * the self-join all-pairs O(N²) into Σ bucket² with the shuffle keyed on
  * the bucket — the same banding idea as MinHash-LSH for text. The IVF
  * family (q55/q103/q106) k-means-trains its cells from the vectors alone;
  * q53 is a supervised diagnostic (per-label mean vectors via posexplode +
  * decimal-exact component sums — a double sum across rows would be
  * partition-order-dependent; decimal is associative), NOT an index input.
  */
object Similarity {

  /** Left-to-right double dot product of two float arrays, via the native
    * codegen'd [[graft.functions.DotProductF32]] expression (bit-identical
    * to the interpreted `aggregate(zip_with(...))` HOF formulation it
    * replaced — see that class's Scaladoc for the numerics argument). */
  private def dot(a: String, b: String): String = s"dot_f32($a, $b)"

  /** DuckDB twin of [[dot]]: strictly sequential list_reduce. */
  private def duckDot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, 65),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"""

  /** 4-bit sign-LSH bucket from the leading dims (exact float comparisons). */
  private def bucketExpr(v: String): String =
    (1 to 4).map(i => s"(CASE WHEN element_at($v, $i) >= 0 THEN '1' ELSE '0' END)")
      .mkString("concat(", ", ", ")")

  private def duckBucket(v: String): String =
    (1 to 4).map(i => s"(CASE WHEN $v[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  private def withNorm(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
  }

  // ── PQ (q88): one SQL template, rendered per engine ──────────────────
  //
  // The k-means training, encode, and ADC search are a single CTE chain
  // whose dialect-specific pieces (subvector slicing, dim explosion,
  // sequential Σ(x−y)² fold, ordered list collection) are injected — so
  // Spark and the DuckDB oracle can never drift, and a green hash row
  // means DuckDB independently re-derived the SAME trained codebooks.

  /** Dialect hooks for [[pqTrainCtes]]. */
  private[operators] final case class PqDialect(
      parts: String, // SQL producing (vec_id, m, sub: ARRAY<DOUBLE>)
      l2: (String, String) => String, // left-to-right Σ(a_i−b_i)²
      dims: String => String, // src(m,k,sub) → (m, k, pos, v)
      ordArr: String) // aggregate: cv values ordered by pos → array

  private[operators] val sparkPq = PqDialect(
    parts = """SELECT vec_id, m,
              |       transform(slice(embedding, m * 16 + 1, 16),
              |                 x -> CAST(x AS DOUBLE)) AS sub
              |FROM (SELECT vec_id, embedding, explode(sequence(0, 3)) AS m
              |      FROM embeddings)""".stripMargin,
    // native codegen'd Σ(x−y)² — bit-identical to the interpreted
    // aggregate(zip_with(...)) HOF and to DuckDB's list_reduce (see
    // L2SquaredF64); the training pass runs it |corpus|×32 per iteration
    l2 = (a, b) => s"l2sq_f64($a, $b)",
    dims = src => s"SELECT m, k, posexplode(sub) AS (pos, v) FROM $src",
    ordArr = "transform(array_sort(collect_list(struct(pos, cv))), p -> p.cv)")

  private[operators] def duckPq = PqDialect(
    parts = """SELECT vec_id, m,
              |       list_transform(embedding[(m*16+1):(m*16+16)],
              |                      x -> CAST(x AS DOUBLE)) AS sub
              |FROM embeddings, (SELECT unnest([0, 1, 2, 3]) AS m) ms""".stripMargin,
    l2 = (a, b) => s"""list_reduce(list_transform(range(1, 17),
                       i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)""",
    dims = src => s"SELECT m, k, i - 1 AS pos, sub[i] AS v FROM $src, range(1, 17) t(i)",
    ordArr = "list(cv ORDER BY pos)")

  /** One Lloyd iteration as CTEs: assign each subvector to its nearest
    * centroid (ties → lowest k), recompute per-dim DECIMAL-EXACT means
    * (a double mean would be partition-order-dependent in Spark), and
    * keep the previous centroid for any cluster that emptied. */
  private def lloydCtes(d: PqDialect, it: Int, prev: String,
                        pfx: String = ""): String =
    s"""${pfx}asg$it AS (
       |  SELECT vec_id, m, sub, k FROM (
       |    SELECT p.vec_id, p.m, p.sub, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id, p.m
       |             ORDER BY ${d.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM ${pfx}parts p JOIN $prev c ON p.m = c.m) x
       |  WHERE rn = 1),
       |${pfx}mean$it AS (
       |  SELECT m, k, pos,
       |         CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS cv
       |  FROM (${d.dims(s"${pfx}asg$it")}) dv$it GROUP BY m, k, pos),
       |${pfx}new$it AS (SELECT m, k, ${d.ordArr} AS cvec FROM ${pfx}mean$it GROUP BY m, k),
       |${pfx}cents$it AS (
       |  SELECT c.m, c.k, COALESCE(n.cvec, c.cvec) AS cvec
       |  FROM $prev c LEFT JOIN ${pfx}new$it n ON c.m = n.m AND c.k = n.k)""".stripMargin

  // ── trained IVF cells: the SAME k-means template, one 64-dim space ──
  //
  // Every IVF path (q55, q103, q106 — and their q102 recall rows) trains
  // its cells from the vectors ALONE: the PQ dialect machinery generalizes
  // to a single full-width subspace (m ≡ 0, 64 dims, k = 8 centroids
  // initialized from the first 8 vectors, 2 Lloyd iterations, decimal-exact
  // means), so the index structure AND its centroids are learned from the
  // data — no datagen attribute is consulted anywhere in index
  // construction — and the DuckDB oracle re-derives the identical training.
  // q106 assigns corpus and probe by L2 (classic IVF-flat); q55/q103 assign
  // by cosine against the same trained centroids (the spherical-assignment
  // variant — recall depends on the corpus and the probe agreeing on the
  // assignment function, which they do).

  private[operators] val sparkIvf = PqDialect(
    parts = """SELECT vec_id, 0 AS m,
              |       transform(embedding, x -> CAST(x AS DOUBLE)) AS sub
              |FROM embeddings""".stripMargin,
    l2 = (a, b) => s"l2sq_f64($a, $b)",
    dims = src => s"SELECT m, k, posexplode(sub) AS (pos, v) FROM $src",
    ordArr = "transform(array_sort(collect_list(struct(pos, cv))), p -> p.cv)")

  private[operators] def duckIvf = PqDialect(
    parts = """SELECT vec_id, 0 AS m,
              |       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS sub
              |FROM embeddings""".stripMargin,
    l2 = (a, b) => s"""list_reduce(list_transform(range(1, 65),
                       i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)""",
    dims = src => s"SELECT m, k, i - 1 AS pos, sub[i] AS v FROM $src, range(1, 65) t(i)",
    ordArr = "list(cv ORDER BY pos)")

  /** q106 body: train cells, assign the corpus, probe each query's own
    * cell, rank in-cell candidates by true cosine. `dotD` is the dialect's
    * sequential double dot (norms precomputed once per vector in `asgf`). */
  /** The q106 cell-assignment CTE body over `parts`/`cents2` — one
    * definition shared by the inline (oracle) rendering and the staged
    * Spark one. */
  private def ivfAsgfCte(d: PqDialect, dotD: (String, String) => String): String =
    s"""asgf AS (
       |  SELECT vec_id, sub, sqrt(${dotD("sub", "sub")}) AS norm, k AS cell FROM (
       |    SELECT p.vec_id, p.sub, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${d.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM parts p JOIN cents2 c ON p.m = c.m) x
       |  WHERE rn = 1)""".stripMargin

  private def ivfQuerySql(d: PqDialect, dotD: (String, String) => String,
                          prefix: Option[String] = None): String =
    s"""WITH ${prefix.getOrElse(s"${pqTrainCtes(d)},\n${ivfAsgfCte(d, dotD)}")},
       |nn AS (
       |  SELECT q.vec_id AS q_id, a.vec_id AS n_id, q.cell,
       |         ${dotD("q.sub", "a.sub")} / (q.norm * a.norm) AS cos
       |  FROM asgf q JOIN asgf a ON q.cell = a.cell AND q.vec_id <> a.vec_id
       |  WHERE q.vec_id IN (0, 1, 2, 3)),
       |r AS (
       |  SELECT q_id, n_id, cell, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM nn)
       |SELECT q_id, rank, n_id, cell, ROUND(cos, 6) AS cos_sim
       |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  private val sparkDotD: (String, String) => String = (a, b) =>
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
  private val duckDotD: (String, String) => String = (a, b) =>
    s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  // ── clustered-corpus recall (q111): the locality regime ─────────────
  //
  // q102 grades every index on the uniform-random `embeddings` corpus,
  // where ALL locality methods ceiling out low — random points have no
  // neighborhood structure to exploit. Real embedding corpora are the
  // opposite: heavily clustered. q111 builds a deterministic
  // mixture-of-Gaussians corpus both engines reproduce bit-identically —
  // 5 well-separated integer centers (component `((c*37 + d*17) % 11) - 5`
  // for cluster c = vec_id % 5) plus a ±0.2 LCG noise term
  // (`((vec_id*1103515245 + d*12345) % 2001 - 1000) / 5000`), all integer
  // arithmetic until one final double divide — trains IVF cells on it with
  // the SAME Lloyd template, and reports recall@3 AND candidates-scanned
  // per nprobe ∈ {1, 2, 4}: the recall-vs-probe-cost curve a user tuning
  // nprobe actually reads. Everything (corpus, training, exact top-3,
  // probe sets, costs) is re-derived by the DuckDB oracle — the curve is
  // hash-gated, not a log line.

  /** The generated corpus as a dialect `parts` clause: (vec_id, m ≡ 0,
    * sub: ARRAY<DOUBLE>[64]). `xform` wraps the shared integer-arithmetic
    * component body in the engine's array comprehension. */
  private def clusteredPartsSql(xform: String => String): String =
    s"""SELECT vec_id, 0 AS m,
       |       ${xform(
      "CAST((((vec_id % 5) * 37 + d * 17) % 11) - 5 AS DOUBLE) + " +
        "CAST((vec_id * 1103515245 + d * 12345) % 2001 - 1000 AS DOUBLE) / 5000.0")} AS sub
       |FROM embeddings""".stripMargin

  private[operators] val sparkClust = sparkIvf.copy(
    parts = clusteredPartsSql(body => s"transform(sequence(1, 64), d -> $body)"))
  private[operators] def duckClust = duckIvf.copy(
    parts = clusteredPartsSql(body => s"list_transform(range(1, 65), d -> $body)"))

  /** q111 body: train cells on the clustered corpus, then for each
    * nprobe ∈ {1,2,4} probe each query's nprobe nearest cells and grade
    * the in-cell top-3 against the exact top-3 — one hash-gated row per
    * (nprobe, query) carrying both recall and scan cost. */
  /** The q111 ranked-assignment CTE body (rn ≤ 4, keeps `cell_rank`) —
    * shared by the inline and staged renderings like [[ivfAsgfCte]]. */
  private def clustAsgfCte(d: PqDialect, dotD: (String, String) => String): String =
    s"""asgf AS (
       |  SELECT vec_id, sub, sqrt(${dotD("sub", "sub")}) AS norm,
       |         k AS cell, rn AS cell_rank FROM (
       |    SELECT p.vec_id, p.sub, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${d.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM parts p JOIN cents2 c ON p.m = c.m) x
       |  WHERE rn <= 4)""".stripMargin

  private def clusteredRecallSql(d: PqDialect, dotD: (String, String) => String,
                                 prefix: Option[String] = None): String =
    s"""WITH ${prefix.getOrElse(s"${pqTrainCtes(d)},\n${clustAsgfCte(d, dotD)}")},
       |idx AS (SELECT vec_id, sub, norm, cell FROM asgf WHERE cell_rank = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, sub AS q_sub, norm AS q_norm,
       |         cell AS q_cell, cell_rank
       |  FROM asgf WHERE vec_id IN (0, 1, 2, 3)),
       |nprobes AS (SELECT 1 AS np UNION ALL SELECT 2 UNION ALL SELECT 4),
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT /*+ BROADCAST(q) */ q.vec_id AS q_id, a.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotD("q.sub", "a.sub")} / (q.norm * a.norm) DESC,
       |                      a.vec_id) AS rank
       |    FROM (SELECT * FROM idx WHERE vec_id IN (0, 1, 2, 3)) q
       |    JOIN idx a ON q.vec_id <> a.vec_id) e
       |  WHERE rank <= 3),
       |cand AS (
       |  SELECT n.np, p.q_id, a.vec_id AS n_id,
       |         ${dotD("p.q_sub", "a.sub")} / (p.q_norm * a.norm) AS cos
       |  FROM nprobes n
       |  JOIN probes p ON p.cell_rank <= n.np
       |  JOIN idx a ON a.cell = p.q_cell AND a.vec_id <> p.q_id),
       |cost AS (SELECT np, q_id, count(*) AS candidates FROM cand GROUP BY np, q_id),
       |appr AS (
       |  SELECT np, q_id, n_id FROM (
       |    SELECT np, q_id, n_id,
       |           row_number() OVER (PARTITION BY np, q_id
       |             ORDER BY cos DESC, n_id) AS rank
       |    FROM cand) r
       |  WHERE rank <= 3),
       |hits AS (
       |  SELECT a.np, a.q_id, count(*) AS h
       |  FROM appr a JOIN exact e ON a.q_id = e.q_id AND a.n_id = e.n_id
       |  GROUP BY a.np, a.q_id)
       |SELECT c.np AS nprobe, c.q_id, CAST(3 AS INT) AS k,
       |       CAST(COALESCE(h.h, 0) AS BIGINT) AS hits_in_top3,
       |       CAST(c.candidates AS BIGINT) AS candidates
       |FROM cost c LEFT JOIN hits h ON c.np = h.np AND c.q_id = h.q_id
       |ORDER BY nprobe, c.q_id""".stripMargin

  /** The trained cell table for the cosine-IVF family (q55/q103):
    * `cent(c_label, c_vec, c_norm)` derived from the full-width k-means
    * chain. Rendered for BOTH engines, so a green q55/q103 row certifies
    * the cross-engine training, not just the search. */
  private def trainedCentCtes(d: PqDialect, dotD: (String, String) => String): String =
    s"""${pqTrainCtes(d)},
       |cent AS (
       |  SELECT k AS c_label, cvec AS c_vec,
       |         sqrt(${dotD("cvec", "cvec")}) AS c_norm
       |  FROM cents2)""".stripMargin

  /** Spark rendering of [[trainedCentCtes]] as a DataFrame (8 rows —
    * broadcast-sized by construction; at 100 TB this is a separately
    * persisted index-build job, here it is inlined so each query stays
    * standalone for the correctness gate). */
  /** Per-invocation staging memo (r18, VERDICT r17 next #4): the q102
    * panel builds ten members on a thread pool, and several members stage
    * the IDENTICAL deterministic training (same dialect ⇒ same SQL ⇒ same
    * rows): q88+q114 share the sparkPq codebooks, q106+q114+q117 the
    * sparkIvf coarse chain, q111+q118 the sparkClust chain, q55+q103 the
    * trainedCells frame. A memo scoped to ONE declared-query invocation
    * dedups those stagings; every standalone bench query gets a FRESH
    * memo (constructed at its map entry), so nothing is ever reused
    * across bench queries — each still computes from the parquet inputs.
    * Thread-safe without holding locks during the staging itself: the
    * winner of putIfAbsent computes, losers join the same future (they
    * would otherwise have re-run the identical training). A FAILED
    * staging is not memoized: its future leaves the map, so waiters that
    * already joined it see the error and the next caller retries.
    * Memoized entries are LEAVES only (views already landed); a memoized
    * computation never calls back into the memo, so no recursive-update
    * hazard exists. */
  private[graft] final class StageMemo {
    private val m = new java.util.concurrent.ConcurrentHashMap[
      AnyRef, java.util.concurrent.CompletableFuture[AnyRef]]()
    def apply[T <: AnyRef](key: AnyRef)(f: => T): T = {
      val fresh = new java.util.concurrent.CompletableFuture[AnyRef]()
      val prior = m.putIfAbsent(key, fresh)
      val fut = if (prior == null) {
        try fresh.complete(f: AnyRef)
        catch { case e: Throwable =>
          fresh.completeExceptionally(e)
          m.remove(key, fresh)
        }
        fresh
      } else prior
      fut.join().asInstanceOf[T]
    }
  }

  private def trainedCells(s: SparkSession, dir: String,
                           memo: StageMemo = new StageMemo): DataFrame =
    memo(("cells", dir)) {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      // eager localCheckpoint: the 8-row trained frame is referenced by
      // several panel members (q55/q103/q105 assignment joins); staging it
      // once replaces three in-plan trainings with one tiny pinned frame
      s.sql(s"WITH ${trainedCentCtes(sparkIvf, sparkDotD)}\n" +
        "SELECT c_label, c_vec, c_norm FROM cent").localCheckpoint(true)
    }

  /** Training chain: parts → init (vec_id 0..7 subvectors) → 2 Lloyd
    * iterations → `cents2`, the trained codebook. `pfx` namespaces the CTE
    * chain so two independent trainings (q114's IVF coarse quantizer + PQ
    * codebooks) can coexist in one query. */
  private[operators] def pqTrainCtes(d: PqDialect, pfx: String = ""): String =
    s"""${pfx}parts AS (${d.parts}),
       |${pfx}cents0 AS (SELECT m, CAST(vec_id AS INT) AS k, sub AS cvec
       |           FROM ${pfx}parts WHERE vec_id < 8),
       |${lloydCtes(d, 1, s"${pfx}cents0", pfx)},
       |${lloydCtes(d, 2, s"${pfx}cents1", pfx)}""".stripMargin

  /** STAGED Spark twin of one `pqTrainCtes` chain (the q117–q119
    * [[stagedResPrefix]] pattern, without the residual leg): the corpus
    * parts and the trained codebook each compute ONCE into eager
    * localCheckpoints; returns (partsView, centsView). Same deterministic
    * intermediates as the inline chain the oracle keeps running. */
  /** Eager localCheckpoint at MEMORY_AND_DISK_SER for CORPUS-SIZED staged
    * frames (guide §5, VERDICT r17 #1): serialized blocks spill to local
    * disk instead of pinning deserialized objects in executor memory —
    * the spill-safe staging level for O(corpus) intermediates (`parts`,
    * `rres`, `asgf`, the assignment frames). The small trained artifacts
    * (centroid/codebook frames, ≤32 rows) keep the default level. At a
    * true 100 TB corpus the production shape is the PERSISTED index
    * (q120–q122) — these in-query stagings exist because the gates train
    * inside the timed query by design. */
  private def stageBig(df: DataFrame): DataFrame =
    df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  private def stagedTrain(s: SparkSession, d: PqDialect,
                          memo: StageMemo = new StageMemo): (String, String) =
    memo(("train", d)) {
      val n = stageCounter.incrementAndGet()
      val vP = s"g_tr${n}_parts"
      stageBig(s.sql(d.parts)).createOrReplaceTempView(vP)
      val vC = s"g_tr${n}_cents"
      s.sql(s"WITH ${pqTrainCtes(d.copy(parts = s"SELECT * FROM $vP"))}\n" +
          "SELECT m, k, cvec FROM cents2")
        .localCheckpoint(true).createOrReplaceTempView(vC)
      (vP, vC)
    }

  /** [[stagedTrain]] stubs as a WITH-prefix for the unprefixed-chain
    * templates (q88). */
  private def stagedTrainPrefix(s: SparkSession, d: PqDialect,
                                memo: StageMemo = new StageMemo): String = {
    val (vP, vC) = stagedTrain(s, d, memo)
    s"""parts AS (SELECT * FROM $vP),
       |cents2 AS (SELECT m, k, cvec FROM $vC)""".stripMargin
  }

  /** Staged prefix for the asgf-based templates (q106/q111): trained
    * views plus the given asgf body materialized once (the assignment
    * window is the expensive, multiply-referenced piece). */
  private def stagedAsgfPrefix(s: SparkSession, d: PqDialect,
                               asgfCte: String,
                               memo: StageMemo = new StageMemo): String = {
    val (vP, vC) = stagedTrain(s, d, memo)
    val vA = memo(("asgf", d, asgfCte)) {
      val n = stageCounter.incrementAndGet()
      val v = s"g_asgf$n"
      stageBig(s.sql(s"""WITH parts AS (SELECT * FROM $vP),
               |cents2 AS (SELECT m, k, cvec FROM $vC),
               |$asgfCte
               |SELECT * FROM asgf""".stripMargin))
        .createOrReplaceTempView(v)
      v
    }
    s"""parts AS (SELECT * FROM $vP),
       |cents2 AS (SELECT m, k, cvec FROM $vC),
       |asgf AS (SELECT * FROM $vA)""".stripMargin
  }

  /** Staged prefix for q114's two independent trainings. */
  private def stagedIvfPqPrefix(s: SparkSession, iv: PqDialect,
                                pq: PqDialect,
                                memo: StageMemo = new StageMemo): String = {
    val (vIp, vIc) = stagedTrain(s, iv, memo)
    val (vPp, vPc) = stagedTrain(s, pq, memo)
    s"""i_parts AS (SELECT * FROM $vIp),
       |i_cents2 AS (SELECT m, k, cvec FROM $vIc),
       |p_parts AS (SELECT * FROM $vPp),
       |p_cents2 AS (SELECT m, k, cvec FROM $vPc)""".stripMargin
  }

  /** The full q88: train, encode the corpus against `cents2`, build the
    * per-query LUT, ADC-rank. Rendered for Spark AND DuckDB; `prefix`
    * swaps in the staged Spark training ([[stagedTrain]] stubs). */
  private def pqQuerySql(d: PqDialect, prefix: Option[String] = None): String =
    s"""WITH ${prefix.getOrElse(pqTrainCtes(d))},
       |codes AS (
       |  SELECT vec_id AS n_id, m, k AS code FROM (
       |    SELECT p.vec_id, p.m, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id, p.m
       |             ORDER BY ${d.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM parts p JOIN cents2 c ON p.m = c.m) y
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT p.vec_id AS q_id, p.m, c.k, ${d.l2("p.sub", "c.cvec")} AS qd
       |  FROM parts p JOIN cents2 c ON p.m = c.m
       |  WHERE p.vec_id IN (0, 1, 2)),
       |adc AS (
       |  SELECT q_id, n_id,
       |         MAX(CASE WHEN codes.m = 0 THEN qd END) AS d0,
       |         MAX(CASE WHEN codes.m = 1 THEN qd END) AS d1,
       |         MAX(CASE WHEN codes.m = 2 THEN qd END) AS d2,
       |         MAX(CASE WHEN codes.m = 3 THEN qd END) AS d3
       |  FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.k
       |  WHERE q_id <> n_id
       |  GROUP BY q_id, n_id),
       |r AS (
       |  SELECT q_id, n_id, d0 + d1 + d2 + d3 AS adc_dist,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY d0 + d1 + d2 + d3, n_id) AS rank
       |  FROM adc)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, adc_dist
       |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** The full q114 — IVF-PQ, the FAISS-standard production composition
    * (IVFADC, Jégou et al. 2011): a TRAINED coarse quantizer (the q106
    * full-width k-means, prefix `i_`) prunes the corpus to the query's
    * nprobe=2 nearest cells, then TRAINED PQ codebooks (the q88 subspace
    * k-means, prefix `p_`) rank only those survivors by asymmetric
    * distance — candidate vectors are never touched, only their 4-byte
    * codes. Raw-vector PQ (FAISS `by_residual=false`): codes quantize the
    * vector itself, not the cell residual, so the q88 codebooks are reused
    * unchanged and the oracle re-derives BOTH trainings from scratch.
    *
    * Scale shape at 100 TB: the corpus is hash-partitioned by cell id and
    * stored as codes (64 floats → 4 bytes); a probe reads nprobe/k of the
    * partitions and its ADC scan is a broadcast-LUT lookup join, so
    * per-query cost is (nprobe/k) × N × 4 bytes — the standard IVFADC
    * budget — while IVF-flat (q55) reads raw vectors and flat PQ (q88)
    * scans every code. */
  private def ivfPqQuerySql(iv: PqDialect, pq: PqDialect,
                            prefix: Option[String] = None): String =
    s"""WITH ${prefix.getOrElse(
        s"${pqTrainCtes(iv, "i_")},\n${pqTrainCtes(pq, "p_")}")},
       |cellasg AS (
       |  SELECT vec_id, k AS cell FROM (
       |    SELECT p.vec_id, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${iv.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM i_parts p JOIN i_cents2 c ON p.m = c.m) x
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, k AS cell FROM (
       |    SELECT p.vec_id, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${iv.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM i_parts p JOIN i_cents2 c ON p.m = c.m
       |    WHERE p.vec_id IN (0, 1, 2, 3)) x
       |  WHERE rn <= 2),
       |codes AS (
       |  SELECT vec_id AS n_id, m, k AS code FROM (
       |    SELECT p.vec_id, p.m, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id, p.m
       |             ORDER BY ${pq.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM p_parts p JOIN p_cents2 c ON p.m = c.m) y
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT p.vec_id AS q_id, p.m, c.k, ${pq.l2("p.sub", "c.cvec")} AS qd
       |  FROM p_parts p JOIN p_cents2 c ON p.m = c.m
       |  WHERE p.vec_id IN (0, 1, 2, 3)),
       |cand AS (
       |  SELECT pr.q_id, ca.vec_id AS n_id, ca.cell
       |  FROM probes pr JOIN cellasg ca ON pr.cell = ca.cell
       |  WHERE pr.q_id <> ca.vec_id),
       |adc AS (
       |  SELECT cd.q_id, cd.n_id, cd.cell,
       |         MAX(CASE WHEN c.m = 0 THEN l.qd END) AS d0,
       |         MAX(CASE WHEN c.m = 1 THEN l.qd END) AS d1,
       |         MAX(CASE WHEN c.m = 2 THEN l.qd END) AS d2,
       |         MAX(CASE WHEN c.m = 3 THEN l.qd END) AS d3
       |  FROM cand cd
       |  JOIN codes c ON cd.n_id = c.n_id
       |  JOIN lut l ON l.q_id = cd.q_id AND l.m = c.m AND l.k = c.code
       |  GROUP BY cd.q_id, cd.n_id, cd.cell),
       |r AS (
       |  SELECT q_id, n_id, cell, d0 + d1 + d2 + d3 AS adc_dist,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY d0 + d1 + d2 + d3, n_id) AS rank
       |  FROM adc)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, cell, adc_dist
       |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Per-engine helpers for the RESIDUAL variant (q117). */
  private[operators] final case class ResDialect(
      zipSub: (String, String) => String, // elementwise a − b (both DOUBLE[])
      sliceParts: (String, String) => String) // (src, idCols) → (idCols, m, sub)

  private[operators] val sparkRes = ResDialect(
    zipSub = (a, b) => s"zip_with($a, $b, (x, y) -> x - y)",
    sliceParts = (src, cols) =>
      s"""SELECT $cols, m, slice(res, m * 16 + 1, 16) AS sub
         |FROM (SELECT $cols, res, explode(sequence(0, 3)) AS m FROM $src)""".stripMargin)

  private[operators] val duckRes = ResDialect(
    zipSub = (a, b) => s"list_transform(range(1, 65), i -> $a[i] - $b[i])",
    sliceParts = (src, cols) =>
      s"""SELECT $cols, m, res[(m*16+1):(m*16+16)] AS sub
         |FROM $src, (SELECT unnest([0, 1, 2, 3]) AS m) ms""".stripMargin)

  /** The shared training prefix of the residual IVF-PQ family
    * (q117/q118/q119): coarse `i_` chain → per-vector residuals → the
    * residual-space `p_` chain. One definition so the inline (oracle)
    * rendering and the STAGED Spark rendering below can never drift. */
  private def resPrefixCtes(iv: PqDialect, pq: PqDialect,
                            res: ResDialect): String =
    s"""${pqTrainCtes(iv, "i_")},
       |rasg AS (
       |  SELECT vec_id, sub, k AS cell, cvec FROM (
       |    SELECT p.vec_id, p.sub, c.k, c.cvec,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${iv.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM i_parts p JOIN i_cents2 c ON p.m = c.m) x
       |  WHERE rn = 1),
       |rres AS (SELECT vec_id, cell, ${res.zipSub("sub", "cvec")} AS res FROM rasg),
       |${pqTrainCtes(pq.copy(parts = res.sliceParts("rres", "vec_id")), "p_")}""".stripMargin

  /** Unique suffix per staged rendering so concurrent panel builds
    * (q102 runs q117 and q118 on different threads) never share views. */
  private val stageCounter = new java.util.concurrent.atomic.AtomicLong()

  /** STAGED Spark twin of [[resPrefixCtes]]: the training chain's heavy,
    * multiply-referenced intermediates — the corpus parts, the trained
    * coarse centroids, the per-vector residuals, the trained residual
    * codebooks — are computed ONCE each into eager localCheckpoints and
    * the prefix CTEs become view reads. Catalyst inlines multi-referenced
    * deterministic CTEs, so the inline rendering re-executes the whole
    * training pipeline under every reference (the `rres` subtree alone is
    * referenced by the p_ chain, `codes`, and `cand` — each a full coarse
    * training + corpus window after inlining, only partially deduplicated
    * by exchange reuse); the staged rendering executes each exactly once.
    * Same deterministic intermediates, same downstream algebra → results
    * identical to the inline rendering the DuckDB oracle keeps running. */
  private def stagedResPrefix(s: SparkSession, iv: PqDialect, pq: PqDialect,
                              res: ResDialect,
                              memo: StageMemo = new StageMemo): String = {
    // the coarse chain is [[stagedTrain]]'s (the CTE prefix only renames;
    // rows identical), so q117's i_ staging dedups against q106/q114's in
    // a shared-memo panel build
    val (vIp, vIc) = stagedTrain(s, iv, memo)
    val vRres = memo(("rres", iv, res)) {
      val n = stageCounter.incrementAndGet()
      val v = s"g_res${n}_rres"
      val df = s.sql(
        s"""WITH i_parts AS (SELECT * FROM $vIp),
           |i_cents2 AS (SELECT m, k, cvec FROM $vIc),
           |rasg AS (
           |  SELECT vec_id, sub, k AS cell, cvec FROM (
           |    SELECT p.vec_id, p.sub, c.k, c.cvec,
           |           row_number() OVER (PARTITION BY p.vec_id
           |             ORDER BY ${iv.l2("p.sub", "c.cvec")}, c.k) AS rn
           |    FROM i_parts p JOIN i_cents2 c ON p.m = c.m) x
           |  WHERE rn = 1)
           |SELECT vec_id, cell, ${res.zipSub("sub", "cvec")} AS res FROM rasg"""
          .stripMargin)
      stageBig(df).createOrReplaceTempView(v)
      v
    }
    val vPc = memo(("rescb", iv, pq, res)) {
      val n = stageCounter.incrementAndGet()
      val v = s"g_res${n}_pcents"
      s.sql(
        s"WITH ${pqTrainCtes(pq.copy(parts = res.sliceParts(vRres, "vec_id")), "p_")}\n" +
          "SELECT m, k, cvec FROM p_cents2")
        .localCheckpoint(true).createOrReplaceTempView(v)
      v
    }
    s"""i_parts AS (SELECT * FROM $vIp),
       |i_cents2 AS (SELECT m, k, cvec FROM $vIc),
       |rres AS (SELECT vec_id, cell, res FROM $vRres),
       |p_parts AS (${res.sliceParts(vRres, "vec_id")}),
       |p_cents2 AS (SELECT m, k, cvec FROM $vPc)""".stripMargin
  }

  /** The full q117 — RESIDUAL IVF-PQ, FAISS's default (`by_residual=
    * true`) and the accuracy-critical refinement over q114: PQ codebooks
    * are trained on, and codes quantize, each vector's residual from its
    * coarse cell centroid rather than the raw vector. Residual norms are a
    * fraction of vector norms (the coarse quantizer has already explained
    * most of the energy), so the same 4-byte code budget quantizes a much
    * smaller space — lower ADC error at identical storage and probe cost.
    * The price is per-(query, probed-cell) lookup tables (the query's
    * residual differs per probed centroid) — exactly FAISS's IVFADC LUT
    * shape — instead of q114's single per-query LUT.
    *
    * Both trainings and the residual algebra run in-query in BOTH
    * engines: the coarse chain (`i_`), the residual computation, the
    * residual-space PQ chain (`p_`), the per-cell LUTs and the ADC
    * ranking are one SQL template, so a green row certifies the full
    * residual pipeline cross-engine. `prefix` swaps in the staged Spark
    * prefix ([[stagedResPrefix]]); the default inline rendering is what
    * the oracle runs. */
  private def ivfPqResidualQuerySql(iv: PqDialect, pq: PqDialect,
                                    res: ResDialect,
                                    prefix: Option[String] = None): String =
    s"""WITH ${prefix.getOrElse(resPrefixCtes(iv, pq, res))},
       |codes AS (
       |  SELECT vec_id AS n_id, m, k AS code FROM (
       |    SELECT p.vec_id, p.m, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id, p.m
       |             ORDER BY ${pq.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM p_parts p JOIN p_cents2 c ON p.m = c.m) y
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, k AS cell, cvec FROM (
       |    SELECT p.vec_id, c.k, c.cvec,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${iv.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM i_parts p JOIN i_cents2 c ON p.m = c.m
       |    WHERE p.vec_id IN (0, 1, 2, 3)) x
       |  WHERE rn <= 2),
       |qres AS (
       |  SELECT pr.q_id, pr.cell, ${res.zipSub("p.sub", "pr.cvec")} AS res
       |  FROM probes pr JOIN i_parts p ON p.vec_id = pr.q_id),
       |qparts AS (${res.sliceParts("qres", "q_id, cell")}),
       |lut AS (
       |  SELECT qp.q_id, qp.cell, qp.m, c.k, ${pq.l2("qp.sub", "c.cvec")} AS qd
       |  FROM qparts qp JOIN p_cents2 c ON qp.m = c.m),
       |cand AS (
       |  SELECT pr.q_id, ca.vec_id AS n_id, ca.cell
       |  FROM probes pr JOIN rres ca ON pr.cell = ca.cell
       |  WHERE pr.q_id <> ca.vec_id),
       |adc AS (
       |  SELECT cd.q_id, cd.n_id, cd.cell,
       |         MAX(CASE WHEN c.m = 0 THEN l.qd END) AS d0,
       |         MAX(CASE WHEN c.m = 1 THEN l.qd END) AS d1,
       |         MAX(CASE WHEN c.m = 2 THEN l.qd END) AS d2,
       |         MAX(CASE WHEN c.m = 3 THEN l.qd END) AS d3
       |  FROM cand cd
       |  JOIN codes c ON cd.n_id = c.n_id
       |  JOIN lut l ON l.q_id = cd.q_id AND l.cell = cd.cell AND l.m = c.m AND l.k = c.code
       |  GROUP BY cd.q_id, cd.n_id, cd.cell),
       |r AS (
       |  SELECT q_id, n_id, cell, d0 + d1 + d2 + d3 AS adc_dist,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY d0 + d1 + d2 + d3, n_id) AS rank
       |  FROM adc)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, cell, adc_dist
       |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** The full q118 — residual IVF-PQ on the CLUSTERED corpus (q111's
    * deterministic mixture), recall-graded IN-QUERY against the exact L2
    * top-3 over the same corpus: the full production configuration (real
    * locality + by_residual codes) measured at its own operating point.
    * Metric-consistent grading: IVFPQ is an L2 index, so the exact
    * baseline ranks by L2, not cosine. One hash-gated row per query
    * carries recall AND candidates scanned, q111-style. */
  private def ivfPqResidualRecallSql(iv: PqDialect, pq: PqDialect,
                                     res: ResDialect,
                                     prefix: Option[String] = None): String =
    s"""WITH ${prefix.getOrElse(resPrefixCtes(iv, pq, res))},
       |codes AS (
       |  SELECT vec_id AS n_id, m, k AS code FROM (
       |    SELECT p.vec_id, p.m, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id, p.m
       |             ORDER BY ${pq.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM p_parts p JOIN p_cents2 c ON p.m = c.m) y
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, k AS cell, cvec FROM (
       |    SELECT p.vec_id, c.k, c.cvec,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${iv.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM i_parts p JOIN i_cents2 c ON p.m = c.m
       |    WHERE p.vec_id IN (0, 1, 2, 3)) x
       |  WHERE rn <= 2),
       |qres AS (
       |  SELECT pr.q_id, pr.cell, ${res.zipSub("p.sub", "pr.cvec")} AS res
       |  FROM probes pr JOIN i_parts p ON p.vec_id = pr.q_id),
       |qparts AS (${res.sliceParts("qres", "q_id, cell")}),
       |lut AS (
       |  SELECT qp.q_id, qp.cell, qp.m, c.k, ${pq.l2("qp.sub", "c.cvec")} AS qd
       |  FROM qparts qp JOIN p_cents2 c ON qp.m = c.m),
       |cand AS (
       |  SELECT pr.q_id, ca.vec_id AS n_id, ca.cell
       |  FROM probes pr JOIN rres ca ON pr.cell = ca.cell
       |  WHERE pr.q_id <> ca.vec_id),
       |adc AS (
       |  SELECT cd.q_id, cd.n_id,
       |         MAX(CASE WHEN c.m = 0 THEN l.qd END) AS d0,
       |         MAX(CASE WHEN c.m = 1 THEN l.qd END) AS d1,
       |         MAX(CASE WHEN c.m = 2 THEN l.qd END) AS d2,
       |         MAX(CASE WHEN c.m = 3 THEN l.qd END) AS d3
       |  FROM cand cd
       |  JOIN codes c ON cd.n_id = c.n_id
       |  JOIN lut l ON l.q_id = cd.q_id AND l.cell = cd.cell AND l.m = c.m AND l.k = c.code
       |  GROUP BY cd.q_id, cd.n_id),
       |appr AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY d0 + d1 + d2 + d3, n_id) AS rank
       |    FROM adc) r
       |  WHERE rank <= 3),
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, a.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${iv.l2("q.sub", "a.sub")}, a.vec_id) AS rank
       |    FROM (SELECT vec_id, sub FROM i_parts WHERE vec_id IN (0, 1, 2, 3)) q
       |    JOIN i_parts a ON q.vec_id <> a.vec_id) e
       |  WHERE rank <= 3),
       |cost AS (SELECT q_id, count(*) AS candidates FROM cand GROUP BY q_id),
       |hits AS (
       |  SELECT a.q_id, count(*) AS h
       |  FROM appr a JOIN exact e ON a.q_id = e.q_id AND a.n_id = e.n_id
       |  GROUP BY a.q_id)
       |SELECT c.q_id, CAST(3 AS INT) AS k,
       |       CAST(COALESCE(h.h, 0) AS BIGINT) AS hits_in_top3,
       |       CAST(c.candidates AS BIGINT) AS candidates
       |FROM cost c LEFT JOIN hits h ON c.q_id = h.q_id
       |ORDER BY c.q_id""".stripMargin

  /** The full q119 — q118's residual IVF-PQ search plus the standard
    * REFINEMENT step (FAISS `IndexRefineFlat`): the 4-byte ADC scan
    * produces a shortlist (depth 16), and only those 16 rows' RAW vectors
    * are fetched and exactly re-ranked by L2. Per-query cost is the ADC
    * scan plus a k-row vector fetch — at 100 TB the fetch is a point
    * lookup per shortlist row against the cell-partitioned corpus, not a
    * scan — and the output row carries BOTH recalls (ADC-only vs
    * re-ranked) so the panel shows exactly what the refinement buys. */
  private def ivfPqRefineRecallSql(iv: PqDialect, pq: PqDialect,
                                   res: ResDialect,
                                   prefix: Option[String] = None): String =
    s"""WITH ${prefix.getOrElse(resPrefixCtes(iv, pq, res))},
       |codes AS (
       |  SELECT vec_id AS n_id, m, k AS code FROM (
       |    SELECT p.vec_id, p.m, c.k,
       |           row_number() OVER (PARTITION BY p.vec_id, p.m
       |             ORDER BY ${pq.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM p_parts p JOIN p_cents2 c ON p.m = c.m) y
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, k AS cell, cvec FROM (
       |    SELECT p.vec_id, c.k, c.cvec,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${iv.l2("p.sub", "c.cvec")}, c.k) AS rn
       |    FROM i_parts p JOIN i_cents2 c ON p.m = c.m
       |    WHERE p.vec_id IN (0, 1, 2, 3)) x
       |  WHERE rn <= 2),
       |qres AS (
       |  SELECT pr.q_id, pr.cell, ${res.zipSub("p.sub", "pr.cvec")} AS res
       |  FROM probes pr JOIN i_parts p ON p.vec_id = pr.q_id),
       |qparts AS (${res.sliceParts("qres", "q_id, cell")}),
       |lut AS (
       |  SELECT qp.q_id, qp.cell, qp.m, c.k, ${pq.l2("qp.sub", "c.cvec")} AS qd
       |  FROM qparts qp JOIN p_cents2 c ON qp.m = c.m),
       |cand AS (
       |  SELECT pr.q_id, ca.vec_id AS n_id, ca.cell
       |  FROM probes pr JOIN rres ca ON pr.cell = ca.cell
       |  WHERE pr.q_id <> ca.vec_id),
       |adc AS (
       |  SELECT cd.q_id, cd.n_id,
       |         MAX(CASE WHEN c.m = 0 THEN l.qd END) AS d0,
       |         MAX(CASE WHEN c.m = 1 THEN l.qd END) AS d1,
       |         MAX(CASE WHEN c.m = 2 THEN l.qd END) AS d2,
       |         MAX(CASE WHEN c.m = 3 THEN l.qd END) AS d3
       |  FROM cand cd
       |  JOIN codes c ON cd.n_id = c.n_id
       |  JOIN lut l ON l.q_id = cd.q_id AND l.cell = cd.cell AND l.m = c.m AND l.k = c.code
       |  GROUP BY cd.q_id, cd.n_id),
       |shortlist AS (
       |  SELECT q_id, n_id, rank FROM (
       |    SELECT q_id, n_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY d0 + d1 + d2 + d3, n_id) AS rank
       |    FROM adc) r
       |  WHERE rank <= 16),
       |reranked AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT sl.q_id, sl.n_id,
       |           row_number() OVER (PARTITION BY sl.q_id
       |             ORDER BY ${iv.l2("qv.sub", "av.sub")}, sl.n_id) AS rank
       |    FROM shortlist sl
       |    JOIN i_parts qv ON qv.vec_id = sl.q_id
       |    JOIN i_parts av ON av.vec_id = sl.n_id) rr
       |  WHERE rank <= 3),
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, a.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${iv.l2("q.sub", "a.sub")}, a.vec_id) AS rank
       |    FROM (SELECT vec_id, sub FROM i_parts WHERE vec_id IN (0, 1, 2, 3)) q
       |    JOIN i_parts a ON q.vec_id <> a.vec_id) e
       |  WHERE rank <= 3),
       |adc_hits AS (
       |  SELECT s.q_id, count(*) AS h
       |  FROM (SELECT q_id, n_id FROM shortlist WHERE rank <= 3) s
       |  JOIN exact e ON s.q_id = e.q_id AND s.n_id = e.n_id
       |  GROUP BY s.q_id),
       |rr_hits AS (
       |  SELECT r.q_id, count(*) AS h
       |  FROM reranked r JOIN exact e ON r.q_id = e.q_id AND r.n_id = e.n_id
       |  GROUP BY r.q_id),
       |qs AS (SELECT DISTINCT q_id FROM probes)
       |SELECT qs.q_id, CAST(3 AS INT) AS k, CAST(16 AS INT) AS rerank_depth,
       |       CAST(COALESCE(ah.h, 0) AS BIGINT) AS hits_adc,
       |       CAST(COALESCE(rh.h, 0) AS BIGINT) AS hits_reranked
       |FROM qs
       |LEFT JOIN adc_hits ah ON qs.q_id = ah.q_id
       |LEFT JOIN rr_hits rh ON qs.q_id = rh.q_id
       |ORDER BY qs.q_id""".stripMargin

  /** The trained codebook alone (spec use: distortion measurement);
    * `cents` is "cents0" (init) or "cents2" (trained). */
  private[graft] def pqCodebookSql(cents: String): String =
    s"WITH ${pqTrainCtes(sparkPq)}\nSELECT m, k, cvec FROM $cents"

  /** Spark rendering of the full q88 (spec use). */
  private[graft] def pqSparkSql: String = pqQuerySql(sparkPq)

  // ── memo-aware member builders ─────────────────────────────────────────
  //
  // Each declared query's map entry constructs a FRESH memo (nothing is
  // shared across bench queries); q102's panel passes ONE memo to all its
  // member builds so identical trainings stage once (VERDICT r17 next #4).

  private def buildIvfSearch(s: SparkSession, dir: String,
                             memo: StageMemo): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val cent = trainedCells(s, dir, memo)
    // assign every vector to its nearest centroid (cosine argmax)
    val scored = emb
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
      .crossJoin(broadcast(cent))
      .withColumn("a_cos",
        expr("dot_f32f64(embedding, c_vec)") / ($"norm" * $"c_norm"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"a_cos".desc, $"c_label")
    // The cell assignment IS the IVF index — probes and candidates both
    // read it, so materialize it once (in production it's a persisted
    // table; recomputing it per join side doubles the whole pipeline).
    // localCheckpoint, not persist(): no CacheManager entry to leak
    // across repeated harness runs in a shared session.
    val assigned = stageBig(scored
      .withColumn("rn", row_number().over(wAssign))
      .filter($"rn" === 1)
      .select($"vec_id", $"embedding", $"norm", $"c_label".as("cell")))
    // probe: query vectors search only their own cell
    val probes = assigned.filter($"vec_id".isin(0L, 1L, 2L, 3L))
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        $"norm".as("q_norm"), $"cell".as("q_cell"))
    val wRank = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    broadcast(probes)
      .join(assigned, $"q_cell" === $"cell" && $"q_id" =!= $"vec_id")
      .withColumn("cos", expr(dot("q_emb", "embedding")) / ($"q_norm" * $"norm"))
      .withColumn("rank", row_number().over(wRank))
      .filter($"rank" <= 3)
      .select($"q_id", $"rank", $"vec_id".as("n_id"), $"q_cell".as("cell"),
        round($"cos", 6).as("cos_sim"))
      .orderBy($"q_id", $"rank")
  }

  private def buildIvfMultiprobe(s: SparkSession, dir: String,
                                 memo: StageMemo): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val emb = t(s, dir, "embeddings")
    val cent = trainedCells(s, dir, memo)
    val scored = emb
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
      .crossJoin(broadcast(cent))
      .withColumn("a_cos",
        expr("dot_f32f64(embedding, c_vec)") / ($"norm" * $"c_norm"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"a_cos".desc, $"c_label")
    val ranked = stageBig(scored
      .withColumn("rn", row_number().over(wAssign)))
    // the index: one cell per vector (exactly q55's assignment)
    val assigned = ranked.filter($"rn" === 1)
      .select($"vec_id", $"embedding", $"norm", $"c_label".as("cell"))
    // probes: each query's TWO nearest cells
    val probes = ranked
      .filter($"vec_id".isin(0L, 1L, 2L, 3L) && $"rn" <= 2)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        $"norm".as("q_norm"), $"c_label".as("q_cell"))
    val wRank = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    broadcast(probes)
      .join(assigned, $"q_cell" === $"cell" && $"q_id" =!= $"vec_id")
      .withColumn("cos", expr(dot("q_emb", "embedding")) / ($"q_norm" * $"norm"))
      .withColumn("rank", row_number().over(wRank))
      .filter($"rank" <= 3)
      .select($"q_id", $"rank", $"vec_id".as("n_id"), $"q_cell".as("cell"),
        round($"cos", 6).as("cos_sim"))
      .orderBy($"q_id", $"rank")
  }

  private def buildPqAnn(s: SparkSession, dir: String,
                         memo: StageMemo): DataFrame = {
    graft.functions.GraftFunctions.register(s) // l2sq_f64 in the template
    t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    s.sql(pqQuerySql(sparkPq, prefix = Some(stagedTrainPrefix(s, sparkPq, memo))))
  }

  private def buildIvfPqAnn(s: SparkSession, dir: String,
                            memo: StageMemo): DataFrame = {
    graft.functions.GraftFunctions.register(s) // l2sq_f64 in the template
    t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    s.sql(ivfPqQuerySql(sparkIvf, sparkPq,
      prefix = Some(stagedIvfPqPrefix(s, sparkIvf, sparkPq, memo))))
  }

  private def buildIvfPqResidual(s: SparkSession, dir: String,
                                 memo: StageMemo): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    s.sql(ivfPqResidualQuerySql(sparkIvf, sparkPq, sparkRes,
      prefix = Some(stagedResPrefix(s, sparkIvf, sparkPq, sparkRes, memo))))
  }

  private def buildIvfPqClustered(s: SparkSession, dir: String,
                                  memo: StageMemo): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    s.sql(ivfPqResidualRecallSql(sparkClust, sparkPq, sparkRes,
      prefix = Some(stagedResPrefix(s, sparkClust, sparkPq, sparkRes, memo))))
  }

  private def buildClusteredRecall(s: SparkSession, dir: String,
                                   memo: StageMemo): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    s.sql(clusteredRecallSql(sparkClust, sparkDotD,
      prefix = Some(stagedAsgfPrefix(s, sparkClust,
        clustAsgfCte(sparkClust, sparkDotD), memo))))
  }

  private def buildIvfTrained(s: SparkSession, dir: String,
                              memo: StageMemo): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    s.sql(ivfQuerySql(sparkIvf, sparkDotD,
      prefix = Some(stagedAsgfPrefix(s, sparkIvf,
        ivfAsgfCte(sparkIvf, sparkDotD), memo))))
  }

  val queries: Map[String, QFn] = Map(
    // Brute-force cosine top-k: 4 query vectors × all rows. The query side
    // is broadcast (tiny), the big side streams — no shuffle of the corpus.
    // Ranking uses the partial top-k Aggregator (map-side k-bounded
    // buffers), NOT a window: the exchange carries ≤ k rows per (query,
    // partition) instead of every scored candidate. Bit-identical output
    // to the row_number window (same score-desc/id-asc total order).
    "q50_cosine_topk" -> { (s, dir) =>
      import s.implicits._
      val topk = udaf(new graft.functions.TopKAggregator(5))
      val e = withNorm(t(s, dir, "embeddings"))
      val q = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
        .filter(col("q_id").isin(0L, 1L, 2L, 3L))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("norm").as("n_norm"))
      broadcast(q).join(c, col("q_id") =!= col("n_id"))
        .withColumn("cos", expr(dot("q_emb", "n_emb")) / (col("q_norm") * col("n_norm")))
        .groupBy(col("q_id"))
        .agg(topk(col("cos"), col("n_id")).as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "sc")))
        .select(col("q_id"), (col("pos") + 1).as("rank"),
          col("sc._2").as("n_id"), round(col("sc._1"), 6).as("cos_sim"))
        .orderBy(col("q_id"), col("rank"))
    },

    // Bucketed ANN: nearest neighbor within the vector's sign-LSH bucket.
    // The self-join keys on the bucket, so comparisons are Σ bucket², not N².
    "q51_ann_lsh" -> { (s, dir) =>
      val e = withNorm(t(s, dir, "embeddings"))
        .withColumn("bucket", expr(bucketExpr("embedding")))
      val a = e.select(col("bucket"), col("vec_id"), col("embedding").as("a_emb"), col("norm").as("a_norm"))
      val b = e.select(col("bucket").as("b_bucket"), col("vec_id").as("n_id"),
        col("embedding").as("b_emb"), col("norm").as("b_norm"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("n_id"))
      a.join(b, col("bucket") === col("b_bucket") && col("vec_id") =!= col("n_id"))
        .withColumn("cos", expr(dot("a_emb", "b_emb")) / (col("a_norm") * col("b_norm")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("bucket"), col("n_id").as("nn_id"),
          round(col("cos"), 6).as("cos_sim"))
        .orderBy(col("vec_id"))
    },

    // Embedding-cosine near-dup detection (the dedup family's embedding
    // member): the corpus is embeddings ∪ deterministically scaled twins
    // (×1.015625 — exactly representable, preserves signs so twins land in
    // the same sign-LSH bucket). Candidate pairs come from the bucket join
    // (never all-pairs); pairs with cos ≥ 0.999 are duplicates. The random
    // base vectors max out near cos 0.51, so exactly the planted twins
    // survive the threshold — the operator provably separates near-dups
    // from background similarity.
    "q54_embed_neardup" -> { (s, dir) =>
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = base.unionAll(
        base.select((col("vec_id") + 100000L).as("vec_id"),
          expr("transform(embedding, x -> CAST(x * CAST(1.015625 AS FLOAT) AS FLOAT))")
            .as("embedding")))
      graft.functions.GraftFunctions.register(s)
      val e = corpus
        .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
        .withColumn("bucket", expr(bucketExpr("embedding")))
      val a = e.select(col("bucket"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("norm").as("a_norm"))
      val b = e.select(col("bucket").as("b_bucket"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("norm").as("b_norm"))
      a.join(b, col("bucket") === col("b_bucket") && col("a_id") < col("b_id"))
        .withColumn("cos", expr(dot("a_emb", "b_emb")) / (col("a_norm") * col("b_norm")))
        .filter(col("cos") >= 0.999)
        .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos_sim"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // IVF search — the ANN scale path: (1) cells k-means-TRAINED from the
    // vectors alone (q106's template — init = first 8 vectors, 2
    // decimal-exact Lloyd iterations; no datagen attribute anywhere in the
    // index build, and the DuckDB oracle re-derives the training), (2)
    // every vector assigned to its nearest centroid by cosine (argmax over
    // a BROADCAST of k = 8 centroids — no shuffle of the corpus), (3) the
    // query vectors search ONLY their assigned cell. At 100 TB the corpus
    // is hash-partitioned by cell id, so a probe touches ~1/k of the data.
    // Output: top-3 in-cell neighbours per query.
    "q55_ivf_search" -> { (s, dir) => buildIvfSearch(s, dir, new StageMemo) },

    // Multi-probe IVF — the production recall knob q55 stops short of:
    // the INDEX (same trained cells as q55) still assigns each vector to
    // exactly one cell, but a query probes its nprobe=2 nearest cells,
    // trading 2× scanned candidates for recall (measured in q102: the
    // gain is hash-gated). Same scale shape as q55 — the probe fan-out is
    // 2 rows per query in the broadcast, the corpus is still touched in
    // 2/k cells only.
    "q103_ivf_multiprobe" -> { (s, dir) =>
      buildIvfMultiprobe(s, dir, new StageMemo)
    },

    // SemDeDup (Abbas et al. 2023): SEMANTIC dedup — cluster the corpus,
    // compare only within a cluster, and for each near-dup pair drop the
    // MORE prototypical member (higher cosine to its centroid), keeping
    // the diversity-preserving outlier. This is the embedding-native
    // complement of the LSH near-dup family: candidates come from k-means
    // cells TRAINED on the base corpus vectors (cost Σ cell², never N²; a
    // scaled twin has the same direction as its source so the pair always
    // shares a cell), and the keep rule is the paper's centroid-proximity
    // policy rather than keep-first. The corpus is embeddings ∪ planted
    // scaled twins (q54's construction) so the operator provably separates
    // real semantic dups (cos ≈ 1) from the ~0.5 background similarity of
    // random vectors.
    "q105_semdedup" -> { (s, dir) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val baseE = t(s, dir, "embeddings")
      val corpus = baseE.select($"vec_id", $"embedding").unionAll(
        baseE.select(($"vec_id" + 100000L).as("vec_id"),
          expr("transform(embedding, x -> CAST(x * CAST(1.015625 AS FLOAT) AS FLOAT))")
            .as("embedding")))
      val cent = trainedCells(s, dir)
      val scored = corpus
        .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
        .crossJoin(broadcast(cent))
        .withColumn("a_cos",
          expr("dot_f32f64(embedding, c_vec)") / ($"norm" * $"c_norm"))
      val wAssign = Window.partitionBy($"vec_id").orderBy($"a_cos".desc, $"c_label")
      val assigned = scored
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1)
        .select($"vec_id", $"embedding", $"norm",
          $"c_label".as("cell"), $"a_cos".as("proto"))
      val a = assigned.select($"cell", $"vec_id".as("a_id"), $"embedding".as("a_emb"),
        $"norm".as("a_norm"), $"proto".as("a_proto"))
      val b = assigned.select($"cell".as("b_cell"), $"vec_id".as("b_id"),
        $"embedding".as("b_emb"), $"norm".as("b_norm"), $"proto".as("b_proto"))
      a.join(b, $"cell" === $"b_cell" && $"a_id" < $"b_id")
        .withColumn("cos", expr(dot("a_emb", "b_emb")) / ($"a_norm" * $"b_norm"))
        .filter($"cos" >= 0.999)
        .select($"cell", $"a_id", $"b_id", round($"cos", 6).as("cos_sim"),
          when($"a_proto" > $"b_proto" ||
               ($"a_proto" === $"b_proto" && $"a_id" > $"b_id"), $"a_id")
            .otherwise($"b_id").as("drop_id"))
        .orderBy($"a_id", $"b_id")
    },

    // Product-quantization ANN — the memory-compressed scale path beyond
    // IVF (q55). The 64-dim vector splits into M=4 16-dim subspaces; each
    // subspace gets a K=8 codebook TRAINED by a deterministic k-means
    // (init = the subvectors of vec_id 0..7, 2 Lloyd iterations,
    // decimal-exact per-dim means, empty clusters keep their previous
    // centroid — see [[pqTrainCtes]]; the whole derivation is one SQL
    // template rendered for BOTH engines, so the DuckDB oracle re-runs
    // the training and the hash match proves it). Encoding is a broadcast
    // of the 32-row codebook against the corpus with an argmin — the
    // shuffle carries ONE (vec, subspace) row per vector, and the stored
    // code is 4 small ints per vector: 64 floats → 4 bytes, the whole
    // point of PQ at 100 TB. Search is asymmetric-distance (ADC): per
    // query, a 32-entry lookup table of query-subvector→codeword
    // distances; a candidate's approximate distance is the FIXED-ORDER
    // sum d0+d1+d2+d3 of its codes' LUT entries (fixed order keeps the
    // double bit-identical across engines; a SUM() would be partition-
    // order-dependent). Scoring never touches the original vectors.
    "q88_pq_ann" -> { (s, dir) => buildPqAnn(s, dir, new StageMemo) },

    // IVF-PQ — the production ANN composition (FAISS IVFADC): the trained
    // coarse quantizer prunes to nprobe=2 cells, trained PQ codebooks
    // ADC-rank only the survivors from 4-byte codes. Both trainings run
    // inside the query and the oracle re-derives both — a green row
    // certifies coarse training, codebook training, pruning, and ADC
    // ranking agree cross-engine end-to-end. See [[ivfPqQuerySql]].
    "q114_ivfpq_ann" -> { (s, dir) => buildIvfPqAnn(s, dir, new StageMemo) },

    // RESIDUAL IVF-PQ — FAISS's by_residual=true default: PQ trained on
    // and encoding cell RESIDUALS, per-(query, probed-cell) LUTs, same
    // 4-byte codes and probe budget as q114 with strictly finer
    // quantization. Recall head-to-head with q114 in q102
    // ("ivfpq_res_top5" vs "ivfpq_top5"). See [[ivfPqResidualQuerySql]].
    "q117_ivfpq_residual" -> { (s, dir) =>
      buildIvfPqResidual(s, dir, new StageMemo)
    },

    // Residual IVF-PQ measured at the PRODUCTION operating point: the
    // clustered corpus (q111's regime — real locality) searched with
    // 4-byte residual codes, recall graded in-query against the exact L2
    // top-3 over the same corpus (metric-consistent: IVFPQ is an L2
    // index). The row a capacity planner reads: hits AND candidates
    // scanned per query, both hash-gated. See [[ivfPqResidualRecallSql]].
    "q118_ivfpq_clustered" -> { (s, dir) =>
      buildIvfPqClustered(s, dir, new StageMemo)
    },

    // q118 + FAISS IndexRefineFlat: exact re-rank of the 16-deep ADC
    // shortlist recovers the recall the 4-byte codes give up, at a k-row
    // vector fetch per query. Both recalls in one hash-gated row per
    // query. See [[ivfPqRefineRecallSql]].
    "q119_ivfpq_refine" -> { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      s.sql(ivfPqRefineRecallSql(sparkClust, sparkPq, sparkRes,
        prefix = Some(stagedResPrefix(s, sparkClust, sparkPq, sparkRes))))
    },

    // Recall-vs-probe-cost curve on a CLUSTERED corpus — the regime real
    // embedding corpora live in (see the block comment at
    // [[clusteredRecallSql]]). One row per (nprobe, query): recall@3
    // against the exact top-3 plus the candidates actually scanned, both
    // hash-gated through the oracle, which re-derives corpus, training,
    // probe sets and costs from scratch.
    "q111_clustered_recall" -> { (s, dir) =>
      buildClusteredRecall(s, dir, new StageMemo)
    },

    // Trained IVF: the cells are k-means-learned from the vectors alone
    // (no datagen attribute), via the same deterministic training template
    // as q88's PQ codebooks — the oracle re-derives the identical
    // centroids, so a green row certifies the TRAINING cross-engine, not
    // just the search. Probe cost is one cell (~1/8 of the corpus).
    "q106_ivf_trained" -> { (s, dir) =>
      buildIvfTrained(s, dir, new StageMemo)
    },

    // Recall@k — the first question a user of an ANN index asks: how many
    // of the EXACT top-k does each approximate method return? Composes
    // the three index paths against q50's brute-force truth: sign-LSH's
    // top-1 (q51), IVF's cell-probed top-3 (q55), PQ's ADC top-5 (q88).
    // `hits_in_topk` is an integer per (method, query) — fully
    // deterministic, oracle-hashable — and the recall/cost trade-off it
    // quantifies is documented in BENCH_NOTES.
    "q102_ann_recall" -> { (s, dir) =>
      import s.implicits._
      // the ten method results are INDEPENDENT jobs (each an eager
      // localCheckpoint of ≤20 rows behind a full index build), so they
      // are submitted from a small thread pool instead of back to back:
      // as one method's plan dwindles to its last tasks, the next
      // method's stages back-fill the freed cores (guide §2.6 — actions
      // are only sequential because the driver calls them sequentially).
      // Results are bit-identical: every method is deterministic and the
      // final union order is fixed by the code below, not by completion
      // order. Functions/views are registered once up front so the
      // worker threads never race the catalog.
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      // ONE memo across the panel (r18): members sharing a training
      // dialect stage it once — q88+q114 the sparkPq codebooks,
      // q106+q114+q117 the sparkIvf coarse chain, q111+q118 the
      // sparkClust chain, q55+q103 the trainedCells frame. Scoped to
      // this invocation; standalone bench queries build fresh memos.
      val memo = new StageMemo
      val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      // every future the panel submits, in submission order: all are
      // joined before the pool shuts down (no training or pin keeps
      // running past the query), and the first failure is rethrown
      val submitted = scala.collection.mutable.ArrayBuffer.empty[scala.concurrent.Future[Any]]
      def submit[T](f: => T): scala.concurrent.Future[T] = {
        val fut = scala.concurrent.Future(f)
        submitted += fut
        fut
      }
      def bg(f: => DataFrame): scala.concurrent.Future[DataFrame] =
        submit(f.localCheckpoint(true))
      try {
        // prewarm the four SHARED trainings first (r18): they are the
        // roots of most members' DAGs, so starting them in parallel up
        // front means a member joining the memo never stalls the pool
        // behind a training another member has yet to reach. Members
        // join the same futures through the memo.
        submit(trainedCells(s, dir, memo))
        submit(stagedTrain(s, sparkPq, memo))
        submit(stagedTrain(s, sparkIvf, memo))
        submit(stagedTrain(s, sparkClust, memo))
        // the exact top-k is ≤20 rows but costs a full brute-force scan —
        // pinned eagerly so the per-method joins below don't re-run the
        // scan (localCheckpoint: materialized, lineage cut, no cache
        // entry to leak past the query)
        val fExact = bg(queries("q50_cosine_topk")(s, dir)
          .select($"q_id", $"rank", $"n_id"))
        val fLsh = bg(queries("q51_ann_lsh")(s, dir)
          .filter($"vec_id".isin(0L, 1L, 2L, 3L))
          .select($"vec_id".as("q_id"), $"nn_id".as("n_id")))
        val fIvf = bg(buildIvfSearch(s, dir, memo).select($"q_id", $"n_id"))
        val fIvfmp = bg(buildIvfMultiprobe(s, dir, memo).select($"q_id", $"n_id"))
        val fIvftr = bg(buildIvfTrained(s, dir, memo).select($"q_id", $"n_id"))
        val fPq = bg(buildPqAnn(s, dir, memo).select($"q_id", $"n_id"))
        val fIvfpq = bg(buildIvfPqAnn(s, dir, memo).select($"q_id", $"n_id"))
        val fIvfpqr = bg(buildIvfPqResidual(s, dir, memo).select($"q_id", $"n_id"))
        // the clustered-corpus regime (q111) alongside the uniform-random
        // one: same trained-IVF machinery, a corpus with real locality —
        // the side-by-side that shows WHY the uniform numbers sit low
        val fClust = bg(buildClusteredRecall(s, dir, memo)
          .select(concat(lit("ivf_clust_np"), $"nprobe".cast("string")).as("method"),
            $"q_id", $"k", $"hits_in_top3".as("hits_in_topk")))
        val fClustRes = bg(buildIvfPqClustered(s, dir, memo)
          .select(lit("ivfpq_res_clust").as("method"),
            $"q_id", $"k", $"hits_in_top3".as("hits_in_topk")))
        graft.Driver.awaitAll(submitted.toSeq)
        def await(f: scala.concurrent.Future[DataFrame]): DataFrame = f.value.get.get
        val exact = await(fExact)
        def recallOf(approx: DataFrame, k: Int, method: String): DataFrame = {
          // each method's result is ≤20 rows but referenced twice (spine +
          // hit counts); already pinned by its background build
          val spine = approx.select($"q_id").distinct()
          val h = approx.join(exact.filter($"rank" <= k).select($"q_id", $"n_id"),
              Seq("q_id", "n_id"))
            .groupBy($"q_id").agg(count(lit(1)).as("h"))
          spine.join(h, Seq("q_id"), "left")
            .select(lit(method).as("method"), $"q_id",
              lit(k).cast("int").as("k"), coalesce($"h", lit(0L)).as("hits_in_topk"))
        }
        recallOf(await(fLsh), 1, "lsh_top1")
          .unionByName(recallOf(await(fIvf), 3, "ivf_top3"))
          .unionByName(recallOf(await(fIvfmp), 3, "ivf_mp_top3"))
          .unionByName(recallOf(await(fIvftr), 3, "ivf_tr_top3"))
          .unionByName(recallOf(await(fPq), 5, "pq_top5"))
          .unionByName(recallOf(await(fIvfpq), 5, "ivfpq_top5"))
          .unionByName(recallOf(await(fIvfpqr), 5, "ivfpq_res_top5"))
          .unionByName(await(fClust))
          .unionByName(await(fClustRes))
          .orderBy($"method", $"q_id")
      } finally pool.shutdown()
    },

    // Per-label norm statistics: per-row norms are deterministic doubles;
    // cross-row reductions stick to count/min/max (order-independent).
    "q52_norm_stats" -> { (s, dir) =>
      withNorm(t(s, dir, "embeddings"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vecs"),
          round(min(col("norm")), 6).as("min_norm"),
          round(max(col("norm")), 6).as("max_norm"))
        .orderBy(col("label"))
    },

    // Per-label mean vectors — a supervised cluster PROFILE (how separated
    // are the label populations?), via posexplode + decimal-exact sums
    // (order-independent across partitions). This is a diagnostic, not an
    // index input: the IVF cells used by q55/q103/q106 are k-means-trained
    // from the vectors alone. Output limited to the first 8 dims to keep
    // the diff small; the plan computes all 64.
    "q53_centroid_ivf" -> { (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .groupBy(col("label"), (col("pos") + 1).as("dim"))
        .agg((sum(col("val").cast("decimal(18,9)")).cast("double") / count(lit(1)))
          .as("centroid_val"))
        .filter(col("dim") <= 8)
        .select(col("label"), col("dim"), round(col("centroid_val"), 6).as("centroid_r"))
        .orderBy(col("label"), col("dim"))
    })

  private val oracleBase: Map[String, String] = Map(
    "q50_cosine_topk" ->
      s"""WITH e AS (
           SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS norm
           FROM embeddings),
         q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
               FROM e WHERE vec_id IN (0, 1, 2, 3)),
         scored AS (
           SELECT q_id, e.vec_id AS n_id,
                  ${duckDot("q_emb", "e.embedding")} / (q_norm * e.norm) AS cos
           FROM q JOIN e ON q_id <> e.vec_id),
         ranked AS (
           SELECT q_id, n_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           FROM scored)
         SELECT q_id, rank, n_id, ROUND(cos, 6) AS cos_sim
         FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""",

    "q51_ann_lsh" ->
      s"""WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(${duckDot("embedding", "embedding")}) AS norm,
                  ${duckBucket("embedding")} AS bucket
           FROM embeddings),
         scored AS (
           SELECT a.vec_id, a.bucket, b.vec_id AS n_id,
                  ${duckDot("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cos
           FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         ranked AS (
           SELECT vec_id, bucket, n_id, cos,
                  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, n_id) AS rn
           FROM scored)
         SELECT vec_id, bucket, n_id AS nn_id, ROUND(cos, 6) AS cos_sim
         FROM ranked WHERE rn = 1 ORDER BY vec_id""",

    "q55_ivf_search" ->
      s"""WITH ${trainedCentCtes(duckIvf, duckDotD)},
         e AS (
           SELECT vec_id, embedding,
                  sqrt(${duckDot("embedding", "embedding")}) AS norm
           FROM embeddings),
         scored AS (
           SELECT e.vec_id, e.embedding, e.norm, c_label, c_norm,
                  list_reduce(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * c_vec[i]), (x, y) -> x + y)
                    / (norm * c_norm) AS a_cos
           FROM e CROSS JOIN cent),
         assigned AS (
           SELECT vec_id, embedding, norm, c_label AS cell
           FROM (SELECT *, row_number() OVER
                   (PARTITION BY vec_id ORDER BY a_cos DESC, c_label) AS rn
                 FROM scored)
           WHERE rn = 1),
         probes AS (
           SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm, cell AS q_cell
           FROM assigned WHERE vec_id IN (0, 1, 2, 3)),
         nn AS (
           SELECT q_id, a.vec_id AS n_id, q_cell,
                  ${duckDot("q_emb", "a.embedding")} / (q_norm * a.norm) AS cos
           FROM probes JOIN assigned a ON q_cell = a.cell AND q_id <> a.vec_id),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           FROM nn)
         SELECT q_id, rank, n_id, q_cell AS cell, ROUND(cos, 6) AS cos_sim
         FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""",

    "q103_ivf_multiprobe" ->
      s"""WITH ${trainedCentCtes(duckIvf, duckDotD)},
         e AS (
           SELECT vec_id, embedding,
                  sqrt(${duckDot("embedding", "embedding")}) AS norm
           FROM embeddings),
         scored AS (
           SELECT e.vec_id, e.embedding, e.norm, c_label, c_norm,
                  list_reduce(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * c_vec[i]), (x, y) -> x + y)
                    / (norm * c_norm) AS a_cos
           FROM e CROSS JOIN cent),
         ranked AS (
           SELECT *, row_number() OVER
             (PARTITION BY vec_id ORDER BY a_cos DESC, c_label) AS rn
           FROM scored),
         assigned AS (
           SELECT vec_id, embedding, norm, c_label AS cell
           FROM ranked WHERE rn = 1),
         probes AS (
           SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm, c_label AS q_cell
           FROM ranked WHERE vec_id IN (0, 1, 2, 3) AND rn <= 2),
         nn AS (
           SELECT q_id, a.vec_id AS n_id, q_cell,
                  ${duckDot("q_emb", "a.embedding")} / (q_norm * a.norm) AS cos
           FROM probes JOIN assigned a ON q_cell = a.cell AND q_id <> a.vec_id),
         rq AS (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           FROM nn)
         SELECT q_id, rank, n_id, q_cell AS cell, ROUND(cos, 6) AS cos_sim
         FROM rq WHERE rank <= 3 ORDER BY q_id, rank""",

    "q105_semdedup" ->
      s"""WITH ${trainedCentCtes(duckIvf, duckDotD)},
         corpus AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 100000,
                  list_transform(embedding, x -> CAST(x * CAST(1.015625 AS FLOAT) AS FLOAT))
           FROM embeddings),
         e AS (
           SELECT vec_id, embedding,
                  sqrt(${duckDot("embedding", "embedding")}) AS norm
           FROM corpus),
         scored AS (
           SELECT e.vec_id, e.embedding, e.norm, c_label, c_norm,
                  list_reduce(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * c_vec[i]), (x, y) -> x + y)
                    / (norm * c_norm) AS a_cos
           FROM e CROSS JOIN cent),
         assigned AS (
           SELECT vec_id, embedding, norm, c_label AS cell, a_cos AS proto FROM (
             SELECT *, row_number() OVER
               (PARTITION BY vec_id ORDER BY a_cos DESC, c_label) AS rn
             FROM scored) x
           WHERE rn = 1),
         pairs AS (
           SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id,
                  ${duckDot("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cos,
                  a.proto AS a_proto, b.proto AS b_proto
           FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         SELECT cell, a_id, b_id, ROUND(cos, 6) AS cos_sim,
                CASE WHEN a_proto > b_proto OR (a_proto = b_proto AND a_id > b_id)
                     THEN a_id ELSE b_id END AS drop_id
         FROM pairs WHERE cos >= 0.999
         ORDER BY a_id, b_id""",

    "q54_embed_neardup" ->
      s"""WITH corpus AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 100000,
                  list_transform(embedding, x -> CAST(x * CAST(1.015625 AS FLOAT) AS FLOAT))
           FROM embeddings),
         e AS (
           SELECT vec_id, embedding,
                  sqrt(${duckDot("embedding", "embedding")}) AS norm,
                  ${duckBucket("embedding")} AS bucket
           FROM corpus),
         scored AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                  ${duckDot("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cos
           FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         SELECT a_id, b_id, ROUND(cos, 6) AS cos_sim
         FROM scored WHERE cos >= 0.999
         ORDER BY a_id, b_id""",

    "q52_norm_stats" ->
      s"""SELECT label, count(*) AS n_vecs,
           ROUND(MIN(sqrt(${duckDot("embedding", "embedding")})), 6) AS min_norm,
           ROUND(MAX(sqrt(${duckDot("embedding", "embedding")})), 6) AS max_norm
         FROM embeddings GROUP BY label ORDER BY label""",

    "q53_centroid_ivf" ->
      """SELECT label, i AS dim,
           ROUND(CAST(SUM(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6)
             AS centroid_r
         FROM embeddings, range(1, 65) t(i)
         WHERE i <= 8
         GROUP BY label, i ORDER BY label, dim""",

    // Same template as the Spark side — DuckDB re-derives the k-means
    // training (2 Lloyd iterations, decimal-exact means) and the ADC
    // ranking from scratch; the hash match is the cross-engine proof.
    "q88_pq_ann" -> pqQuerySql(duckPq),

    // Trained-IVF twin: DuckDB re-trains the full-width k-means cells and
    // re-runs the cell-probed search — green row = identical training.
    "q106_ivf_trained" -> ivfQuerySql(duckIvf, duckDotD),

    // IVF-PQ twin: DuckDB re-derives BOTH trainings (coarse cells + PQ
    // codebooks), the cell pruning, and the ADC ranking from scratch.
    "q114_ivfpq_ann" -> ivfPqQuerySql(duckIvf, duckPq),

    // Residual twin: DuckDB re-derives the coarse training, the residual
    // algebra, the residual-space PQ training, the per-cell LUTs, and the
    // ADC ranking — the full by_residual pipeline, from scratch.
    "q117_ivfpq_residual" -> ivfPqResidualQuerySql(duckIvf, duckPq, duckRes),

    // Clustered-residual twin: DuckDB regenerates the mixture corpus and
    // re-runs the entire residual IVF-PQ recall grading from scratch.
    "q118_ivfpq_clustered" -> ivfPqResidualRecallSql(duckClust, duckPq, duckRes),

    // Refinement twin: the same pipeline plus the exact re-rank of the
    // ADC shortlist, both recall columns re-derived from scratch.
    "q119_ivfpq_refine" -> ivfPqRefineRecallSql(duckClust, duckPq, duckRes),

    // Clustered-recall twin: DuckDB regenerates the mixture corpus from
    // the same integer arithmetic, re-trains, re-probes, re-costs.
    "q111_clustered_recall" -> clusteredRecallSql(duckClust, duckDotD))

  /** q102's oracle embeds the other four oracles as subqueries, so DuckDB
    * recomputes every index from scratch and then the recall counts. */
  private def recallOracle: String =
    s"""WITH exact AS (SELECT q_id, rank, n_id FROM (${oracleBase("q50_cosine_topk")}) e),
       |     lsh AS (SELECT vec_id AS q_id, nn_id AS n_id
       |             FROM (${oracleBase("q51_ann_lsh")}) l WHERE vec_id IN (0, 1, 2, 3)),
       |     ivf AS (SELECT q_id, n_id FROM (${oracleBase("q55_ivf_search")}) i),
       |     ivfmp AS (SELECT q_id, n_id FROM (${oracleBase("q103_ivf_multiprobe")}) im),
       |     ivftr AS (SELECT q_id, n_id FROM (${oracleBase("q106_ivf_trained")}) it),
       |     pq AS (SELECT q_id, n_id FROM (${oracleBase("q88_pq_ann")}) p),
       |     ivfpq AS (SELECT q_id, n_id FROM (${oracleBase("q114_ivfpq_ann")}) ip),
       |     ivfpqr AS (SELECT q_id, n_id FROM (${oracleBase("q117_ivfpq_residual")}) ipr),
       |     clustq AS (
       |       SELECT 'ivf_clust_np' || CAST(nprobe AS VARCHAR) AS method,
       |              q_id, hits_in_top3
       |       FROM (${oracleBase("q111_clustered_recall")}) cq
       |       UNION ALL
       |       SELECT 'ivfpq_res_clust', q_id, hits_in_top3
       |       FROM (${oracleBase("q118_ivfpq_clustered")}) cr),
       |     spine AS (
       |       SELECT 'lsh_top1' AS method, q_id, 1 AS k FROM (SELECT DISTINCT q_id FROM lsh) a
       |       UNION ALL
       |       SELECT 'ivf_top3', q_id, 3 FROM (SELECT DISTINCT q_id FROM ivf) b
       |       UNION ALL
       |       SELECT 'ivf_mp_top3', q_id, 3 FROM (SELECT DISTINCT q_id FROM ivfmp) bm
       |       UNION ALL
       |       SELECT 'ivf_tr_top3', q_id, 3 FROM (SELECT DISTINCT q_id FROM ivftr) bt
       |       UNION ALL
       |       SELECT 'pq_top5', q_id, 5 FROM (SELECT DISTINCT q_id FROM pq) c
       |       UNION ALL
       |       SELECT 'ivfpq_top5', q_id, 5 FROM (SELECT DISTINCT q_id FROM ivfpq) cp
       |       UNION ALL
       |       SELECT 'ivfpq_res_top5', q_id, 5 FROM (SELECT DISTINCT q_id FROM ivfpqr) cr
       |       UNION ALL
       |       SELECT method, q_id, 3 FROM clustq),
       |     hits AS (
       |       SELECT 'lsh_top1' AS method, l.q_id, count(*) AS h
       |       FROM lsh l JOIN exact e ON l.q_id = e.q_id AND l.n_id = e.n_id AND e.rank <= 1
       |       GROUP BY l.q_id
       |       UNION ALL
       |       SELECT 'ivf_top3', i.q_id, count(*)
       |       FROM ivf i JOIN exact e ON i.q_id = e.q_id AND i.n_id = e.n_id AND e.rank <= 3
       |       GROUP BY i.q_id
       |       UNION ALL
       |       SELECT 'ivf_mp_top3', im.q_id, count(*)
       |       FROM ivfmp im JOIN exact e ON im.q_id = e.q_id AND im.n_id = e.n_id AND e.rank <= 3
       |       GROUP BY im.q_id
       |       UNION ALL
       |       SELECT 'ivf_tr_top3', it.q_id, count(*)
       |       FROM ivftr it JOIN exact e ON it.q_id = e.q_id AND it.n_id = e.n_id AND e.rank <= 3
       |       GROUP BY it.q_id
       |       UNION ALL
       |       SELECT 'pq_top5', p.q_id, count(*)
       |       FROM pq p JOIN exact e ON p.q_id = e.q_id AND p.n_id = e.n_id AND e.rank <= 5
       |       GROUP BY p.q_id
       |       UNION ALL
       |       SELECT 'ivfpq_top5', ip.q_id, count(*)
       |       FROM ivfpq ip JOIN exact e ON ip.q_id = e.q_id AND ip.n_id = e.n_id AND e.rank <= 5
       |       GROUP BY ip.q_id
       |       UNION ALL
       |       SELECT 'ivfpq_res_top5', ipr.q_id, count(*)
       |       FROM ivfpqr ipr JOIN exact e ON ipr.q_id = e.q_id AND ipr.n_id = e.n_id AND e.rank <= 5
       |       GROUP BY ipr.q_id
       |       UNION ALL
       |       SELECT method, q_id, hits_in_top3 FROM clustq)
       |SELECT s.method, s.q_id, CAST(s.k AS INT) AS k,
       |       CAST(COALESCE(h.h, 0) AS BIGINT) AS hits_in_topk
       |FROM spine s LEFT JOIN hits h ON s.method = h.method AND s.q_id = h.q_id
       |ORDER BY s.method, s.q_id""".stripMargin

  val oracle: Map[String, String] =
    oracleBase + ("q102_ann_recall" -> recallOracle)
}
