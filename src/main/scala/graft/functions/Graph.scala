package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TextRank keyword extraction — weighted PageRank over the token
  * co-occurrence graph (Mihalcea & Tarau 2004; Brin & Page 1998) — and
  * the repo's iterative GRAPH-algorithm representative alongside the
  * label-propagation connected components in [[Cluster]].
  *
  * Graph: tokens are nodes; each adjacent token pair in a document adds
  * weight 1 to the undirected edge between them (self-pairs from repeated
  * tokens are dropped). PageRank with damping d = 17/20 runs a fixed
  * `iters` rounds from the uniform start.
  *
  * All rank arithmetic is FIXED-POINT integer work at 10^12 scale:
  * per-edge contributions `(r_u * w) div out_u` and the damped update
  * `base + (17 * in) div 20` are integral divisions of exact integer
  * products (decimal(38,0) intermediates), so per-node sums are order-free
  * and both engines produce bit-identical ranks — the same no-libm /
  * no-float-accumulation discipline as the k-means and centroid oracles.
  * Floors lose at most 1 unit per edge per round: total mass drifts below
  * 10^12 by parts-per-billion, identically in both engines.
  *
  * Bound audit for decimal(38,0): rank mass never exceeds the 10^12
  * start, so `r_u * w * 17` tops out near 10^13 * w; edge weights would
  * need to pass 10^24 occurrences to threaten 38 digits — beyond any
  * corpus.
  *
  * Scale design (100 TB): the edge list is a partial-aggregable groupBy
  * over the adjacent-pair stream (map-side combine collapses repeats
  * before the exchange), sized by VOCABULARY² worst case — aggregate
  * data, orders below corpus size. Each iteration is one equi-join of the
  * rank table against the edge list plus one partial-aggregable sum —
  * the same per-round shape as the connected-components pass. No
  * driver-side state; `iters` is a fixed constant, not data-driven.
  */
object Graph {

  /** Distinct (srcCol, dstCol) rows holding every edge of `edges` in
    * BOTH orientations, from ONE explode per edge row: a self-union
    * would evaluate the candidate generator feeding the edges twice.
    * Self-loops pass through; callers that drop them filter the edges
    * or the result. Callers reading it more than once checkpoint it.
    */
  private[graft] def undirectedEdges(edges: DataFrame, aCol: String,
      bCol: String, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(explode(array(
        struct(col(aCol).as("s"), col(bCol).as("t")),
        struct(col(bCol).as("s"), col(aCol).as("t")))).as("__e"))
      .select(col("__e.s").as(srcCol), col("__e.t").as(dstCol))
      .distinct()

  /** The canonical undirected edge set: one distinct (a, b) row with
    * a < b per non-loop edge of `edges`, whichever way it was listed.
    */
  private def canonicalEdges(edges: DataFrame, aCol: String,
      bCol: String): DataFrame =
    edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** The inputs of the wedge-based link predictors: the canonical edge
    * set (checkpointed: the wedge build and the adjacency anti-join both
    * read it), both its orientations as (center z, neighbor n), and each
    * center's degree `__d`.
    */
  private def wedgeInputs(edges: DataFrame, aCol: String, bCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val und = canonicalEdges(edges, aCol, bCol).checkpointed
    val sym = und.select(col("a").as("z"), col("b").as("n"))
      .unionByName(und.select(col("b").as("z"), col("a").as("n")))
    (und, sym, sym.groupBy(col("z")).agg(count(lit(1)).as("__d")))
  }

  private val RScale = 1000000000000L // 10^12 fixed-point rank scale

  /** Co-occurrence edge list (src, dst, w) — both directions, no
    * self-loops. */
  def cooccurrenceEdges(docs: DataFrame, textCol: String): DataFrame = {
    val toks = docs.select(Text.tokens(col(textCol)).as("__tk"))
    // Adjacent pairs via a 2-token sliding window; both orientations so
    // the undirected graph is stored as a symmetric directed one.
    // Both orientations emitted from ONE pass over the token arrays —
    // the self-union form re-tokenized the corpus for the reversed side.
    val pairs = toks
      .select(explode(when(size(col("__tk")) >= 2,
          flatten(transform(sequence(lit(1), size(col("__tk")) - 1),
            i => array(
              struct(element_at(col("__tk"), i).as("src"),
                element_at(col("__tk"), i + 1).as("dst")),
              struct(element_at(col("__tk"), i + 1).as("src"),
                element_at(col("__tk"), i).as("dst"))))))
        .otherwise(array())).as("__e"))
      .select(col("__e.src"), col("__e.dst"))
      .filter(col("src") =!= col("dst"))
    pairs
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("long").as("w"))
  }

  /** Top-`k` tokens by fixed-point PageRank after `iters` rounds.
    * Output: (token, rank_q, score) ordered by (rank_q desc, token asc);
    * `rank_q` is the exact 10^12-scaled integer rank, `score` its double
    * rendering.
    */
  def textRank(docs: DataFrame, textCol: String, iters: Int,
      k: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(k >= 1, s"k must be >= 1, got $k")
    val dec = "decimal(38,0)"
    // The edge list feeds every iteration (plus the out-weight table):
    // materialize the vocabulary-sized aggregate ONCE instead of
    // re-running the corpus scan per round — the same lineage-truncation
    // call the connected-components loop uses, and a bounded artifact
    // (vocab² worst case), never corpus-sized.
    val edges = cooccurrenceEdges(docs, textCol).checkpointed
    val outW = edges.groupBy(col("src"))
      .agg(sum(col("w")).cast("long").as("out_w"))
    // Node count rides in as a broadcast 1-row aggregate, like every
    // corpus total in this repo — never a driver-side literal.
    val nNodes = broadcast(outW.agg(count(lit(1)).cast("long").as("n_nodes")))

    var rank = outW.crossJoin(nNodes)
      .select(col("src").as("token"),
        expr(s"CAST($RScale AS $dec) div n_nodes").as("rank_q"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(rank.withColumnRenamed("token", "src"), Seq("src"))
        .join(outW, Seq("src"))
        .select(col("dst").as("token"),
          expr(s"(CAST(rank_q AS $dec) * CAST(w AS $dec)) div out_w")
            .as("__c"))
        .groupBy(col("token"))
        .agg(sum(col("__c")).cast("long").as("__in"))
      // Symmetric edges mean every node has incoming mass, but the
      // damped base is still applied through a left join + coalesce so
      // an empty-side regression surfaces as a rank change, not a drop.
      rank = rank.select(col("token")).join(contrib, Seq("token"), "left")
        .crossJoin(nNodes)
        .select(col("token"),
          (expr(s"(CAST(${RScale * 3L} AS $dec)) div (n_nodes * 20)") +
            expr(s"(CAST(17 AS $dec) * coalesce(__in, CAST(0 AS LONG))) div 20"))
            .cast("long").as("rank_q"))
    }
    rank
      .withColumn("score", col("rank_q").cast("double") / lit(RScale.toDouble))
      .orderBy(col("rank_q").desc, col("token").asc)
      .limit(k)
  }

  /** Personalized PageRank (Page et al. 1998 §6; the seeded-teleport
    * form behind "expand this seed set over the similarity graph" —
    * finding documents graph-close to a curated seed batch): teleport
    * mass lands ONLY on the seeds, so rank measures proximity to the
    * seed set rather than global centrality. Unweighted undirected
    * candidate graph (each distinct pair contributes degree 1 both
    * ways); damping 17/20, `iters` fixed rounds from the seed-uniform
    * start; isolated vertices keep exactly their base mass.
    *
    * Same fixed-point integer discipline as [[textRank]] — 10^12-scaled
    * ranks, integral divisions of decimal(38,0) products, order-free
    * sums — so both engines produce bit-identical ranks. Per round: one
    * equi-join of the rank table against the symmetric edge list + one
    * partial-aggregable sum + one vertex-keyed left join. Output:
    * (idCol, rank_q, score), every vertex.
    */
  def personalizedPageRank(pairs: DataFrame, aCol: String, bCol: String,
      vertices: DataFrame, idCol: String, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dec = "decimal(38,0)"
    // distinct collapses duplicate candidate pairs to unit weight
    val sym = undirectedEdges(pairs.filter(col(aCol) =!= col(bCol)),
        aCol, bCol, "src", "dst")
      .checkpointed
    val deg = sym.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("out_w"))
    val seedSet = seeds.select(col(idCol)).distinct()
    val nSeeds = broadcast(
      seedSet.agg(count(lit(1)).cast("long").as("n_seeds")))
    val verts = vertices.select(col(idCol)).distinct()
      .join(seedSet.withColumn("__s", lit(1L)), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__s"), lit(0L)).as("__s"))
      .crossJoin(nSeeds)
      .checkpointed
    var rank = verts.select(col(idCol),
      expr(s"CAST(__s * $RScale AS $dec) div n_seeds")
        .cast("long").as("rank_q"))
    for (_ <- 1 to iters) {
      val contrib = sym
        .join(rank.withColumnRenamed(idCol, "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as(idCol),
          expr(s"CAST(rank_q AS $dec) div out_w").as("__c"))
        .groupBy(col(idCol))
        .agg(sum(col("__c")).cast("long").as("__in"))
      rank = verts.join(contrib, Seq(idCol), "left")
        .select(col(idCol),
          (expr(s"CAST(__s * ${RScale * 3L} AS $dec) div (n_seeds * 20)") +
            expr(s"(CAST(17 AS $dec) * coalesce(__in, CAST(0 AS LONG))) div 20"))
            .cast("long").as("rank_q"))
    }
    rank.withColumn("score",
      col("rank_q").cast("double") / lit(RScale.toDouble))
  }

  /** Global PageRank — [[personalizedPageRank]] with the teleport
    * spread uniformly over EVERY vertex (the original Page et al.
    * 1998 form): rank measures global centrality in the candidate
    * graph rather than proximity to a seed set. Identical fixed-point
    * integer discipline, join shape, and per-round cost; isolated
    * vertices keep exactly the damped base mass 3·RScale/(20·n).
    */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String,
      vertices: DataFrame, idCol: String, iters: Int): DataFrame =
    personalizedPageRank(pairs, aCol, bCol, vertices, idCol,
      vertices.select(col(idCol)), iters)

  /** Deterministic synchronous label propagation (Raghavan et al. 2007)
    * — community detection, the third graph primitive alongside
    * connected components (reachability) and PageRank (centrality):
    * every vertex starts as its own label, and each round adopts the
    * MOST FREQUENT label among its neighbors, ties broken by the
    * smallest label, isolated vertices keeping their own. The classic
    * async/random-order LPA is nondeterministic; the synchronous
    * min-tie-break form is exact and engine-reproducible, which is what
    * an oracle-gated catalog needs (fixed `rounds`, the k-means/BPE
    * precedent). Communities differ from components: a bridge edge
    * joins two cliques into one component, but majority voting keeps
    * their labels apart.
    *
    * Scale shape per round: one label join onto the symmetric edge list
    * (edge-keyed equi-join), one partial-aggregable (vertex, label)
    * count, one degree-bounded window for the per-vertex argmax, one
    * vertex-keyed left join back. No driver state; rounds fixed. The
    * label table is checkpointed per round (the CC-loop lineage
    * discipline).
    *
    * @param edges    undirected candidate pairs (aCol, bCol) — one row
    *                 per edge, either orientation
    * @param vertices one row per vertex
    * @return (idCol, label) after `rounds` synchronous updates
    */
  /** Session memo for the propagated label table: three catalog
    * consumers (labels, conductance, modularity over the same SNM
    * graph) run byte-identical 2-round propagations — the NB-memo
    * shared-chain pattern. The artifact is vertex-domain narrow
    * (id, label).
    */
  private val lpMemo = new PlanMemo[DataFrame]

  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      vertices: DataFrame, idCol: String, rounds: Int): DataFrame =
    lpMemo(edges, aCol, bCol, vertices, idCol, rounds) {
      labelPropagationUncached(edges, aCol, bCol, vertices, idCol, rounds)
        .checkpointed
    }

  // private[graft]: plan-shape assertions target the unmemoized chain
  private[graft] def labelPropagationUncached(edges: DataFrame,
      aCol: String, bCol: String, vertices: DataFrame, idCol: String,
      rounds: Int): DataFrame = Checkpoints.owned {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import org.apache.spark.sql.expressions.Window
    val sym = undirectedEdges(edges, aCol, bCol, "__src", "__dst")
      .filter(col("__src") =!= col("__dst"))
      .checkpointed
    var labels = vertices.select(col(idCol).as("__id"),
        col(idCol).as("__lbl"))
      .checkpointed
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__c").desc, col("__lbl").asc)
    for (_ <- 1 to rounds) {
      val pick = sym
        .join(labels.withColumnRenamed("__id", "__src"), Seq("__src"))
        .groupBy(col("__dst").as("__id"), col("__lbl"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__id"), col("__lbl").as("__new"))
      labels = Checkpoints.replace(labels)(labels
        .join(pick, Seq("__id"), "left")
        .select(col("__id"), coalesce(col("__new"), col("__lbl")).as("__lbl"))
        .checkpointed)
    }
    labels.select(col("__id").as(idCol), col("__lbl").as("label"))
  }

  /** Per-vertex triangle counts — graph COHESION, completing the graph
    * primitive set (components = reachability, LPA = communities,
    * PageRank = centrality): near-dup graphs are triangle-dense where
    * content genuinely clusters and triangle-free where chains of
    * borderline matches string unrelated docs together, so triangle
    * support is the standard edge-quality signal before cutting a
    * candidate graph.
    *
    * DEGREE-ORIENTED enumeration (the compact-forward idiom): each
    * undirected edge is oriented from the (degree, id)-smaller endpoint
    * to the larger, every triangle then has exactly ONE vertex with two
    * out-edges, so wedges form only at that vertex — total wedge volume
    * is O(m^1.5) regardless of hubs, where id-oriented wedges blow up
    * quadratically on a high-degree vertex. Two equi-joins (wedge build
    * + closing-edge semi-join), one explode, one groupBy; the oriented
    * edge list is checkpointed for its two join roles.
    *
    * Output: (idCol, n_triangles) for EVERY vertex (0 where none).
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String,
      vertices: DataFrame, idCol: String): DataFrame = {
    val und = canonicalEdges(edges, aCol, bCol).checkpointed
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient by (degree, id): u -> v iff (d_u, u) < (d_v, v)
    val orient = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.w").as("w"))
      .checkpointed
    // wedges at the one two-out-edge vertex of each triangle
    val wedges = orient.select(col("u"), col("w").as("v1"))
      .join(orient.select(col("u"), col("w").as("v2")), Seq("u"))
      .filter(col("v1") < col("v2"))
    val tris = wedges
      .join(und.select(col("a").as("v1"), col("b").as("v2")),
        Seq("v1", "v2"), "left_semi")
    val perVertex = tris
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__t"))
    // both checkpoints stay pinned: the returned (lazy) plan reads them
    vertices.select(col(idCol))
      .join(perVertex.withColumnRenamed("__v", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__t"), lit(0L)).as("n_triangles"))
  }

  /** Common-neighbor link prediction: for every NON-adjacent vertex
    * pair sharing at least `minCommon` neighbors, the shared-neighbor
    * count — the classic candidate-suggestion score (Liben-Nowell &
    * Kleinberg 2003): in a near-dup graph, two docs that share many
    * neighbors but no edge are the blocker's likeliest misses, so this
    * is the recall-repair pass a candidate graph gets before clustering.
    *
    * Wedges form at the shared neighbor: one self-join of the symmetric
    * adjacency on the center vertex. A hub center contributes
    * deg²/2 wedges, so centers above `degCap` are dropped first — the
    * same hub cut as every inverted-list path here (a hub's shared-ness
    * carries no pair signal; its wedge mass is quadratic). Then one
    * partial-aggregable pair count and one anti-join against the edge
    * set to keep only non-adjacent pairs.
    *
    * Output: (id_a, id_b, n_common) with id_a < id_b.
    */
  def commonNeighbors(edges: DataFrame, aCol: String, bCol: String,
      minCommon: Long = 1L, degCap: Long = 10000L): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val (und, sym, deg) = wedgeInputs(edges, aCol, bCol)
    val centers = sym.join(deg.filter(col("__d") <= degCap).select("z"),
      Seq("z"))
    val pairs = centers.select(col("z"), col("n").as("x"))
      .join(centers.select(col("z"), col("n").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("id_a"), col("y").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    pairs.join(und.select(col("a").as("id_a"), col("b").as("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      .select(col("id_a"), col("id_b"), col("n_common"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) — the
    * log-discounted refinement of [[commonNeighbors]]: a shared
    * neighbor z contributes 1/log(deg z), so rare shared neighbors
    * (two docs sharing an OBSCURE block-mate) predict a link far more
    * strongly than hub neighbors every pair shares. Logarithms are
    * [[graft.plans.FixLog.log2q]] (the no-libm discipline — AA's
    * ranking is invariant to the log base, and log2 is the engine's
    * exact one): each contribution is the INTEGER 2^32 div log2q(deg),
    * a 16.16 rendering of 1/log2(deg), summed exactly per pair.
    *
    * Same candidate semantics and hub handling as commonNeighbors:
    * centers above `degCap` are cut (hub shared-neighbors carry ~zero
    * AA weight anyway — the discount is WHY the cap is safe here),
    * adjacent pairs are excluded (prediction targets), a pair needs
    * `minCommon` shared neighbors. A center of any pair has degree
    * ≥ 2, so log2q(deg) > 0 — no zero division by construction.
    *
    * Output: (id_a, id_b, n_common, aa_q, aa) — aa_q the exact 16.16
    * integer, aa its rounded double rendering.
    */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String,
      minCommon: Long = 1L, degCap: Long = 10000L): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val (und, sym, deg) = wedgeInputs(edges, aCol, bCol)
    val disc = deg.filter(col("__d") >= 2L && col("__d") <= degCap)
      .select(col("z"),
        graft.plans.FixLog.log2qCol(col("__d")).as("__lq"))
      .select(col("z"), expr("4294967296 div __lq").as("__w"))
    val centers = sym.join(disc, Seq("z"))
    val pairs = centers.select(col("z"), col("__w"), col("n").as("x"))
      .join(centers.select(col("z"), col("n").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("id_a"), col("y").as("id_b"))
      .agg(count(lit(1)).as("n_common"), sum(col("__w")).as("aa_q"))
      .filter(col("n_common") >= minCommon)
    pairs.join(und.select(col("a").as("id_a"), col("b").as("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      .select(col("id_a"), col("id_b"), col("n_common"), col("aa_q"),
        round(col("aa_q").cast("double") / 65536.0, 6).as("aa"))
  }

  /** k-core peeling — the graph DENSITY primitive next to components
    * (reachability), LPA (communities), PageRank (centrality), and
    * triangles (cohesion): synchronously delete every vertex whose
    * degree in the surviving subgraph is below `k`, `rounds` times. At
    * the fixed point the survivors are exactly the k-core (Seidman 1983,
    * "Network structure and minimum degree") — the standard cluster-hull
    * cut on a near-dup candidate graph: chains and trees of borderline
    * matches peel away (every tree is 1-degenerate), while genuinely
    * dense duplicate clusters survive.
    *
    * `rounds` is a FIXED constant in both engines — the DuckDB oracle
    * unrolls the identical peel stage per round — so the gate holds
    * whatever the corpus; KCoreSpec asserts the fixed point is reached
    * within `rounds` on the shipped corpus (peeling is monotone:
    * survivor sets only shrink, so round r == round r+1 proves
    * convergence).
    *
    * Scale (100 TB): each round is one partial-aggregable degree count
    * over edges with both endpoints alive (two semi-joins) plus a
    * filter — the connected-components per-round shape. The survivor
    * set is checkpointed per round and the previous round unpersisted;
    * rounds is a constant, never data-driven driver looping.
    *
    * Output: (idCol, degree) of the surviving vertices with their
    * INDUCED degree — 0 rows when the whole graph peels away.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int): DataFrame = Checkpoints.owned {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sym = undirectedEdges(edges, aCol, bCol, "__src", "__dst")
      .filter(col("__src") =!= col("__dst"))
      .checkpointed
    def induced(alive: DataFrame): DataFrame = sym
      .join(alive.select(col("__id").as("__src")), Seq("__src"), "leftsemi")
      .join(alive.select(col("__id").as("__dst")), Seq("__dst"), "leftsemi")
      .groupBy(col("__src").as("__id"))
      .agg(count(lit(1)).as("__deg"))
    var alive = sym.select(col("__src").as("__id")).distinct()
      .checkpointed
    for (_ <- 1 to rounds)
      alive = Checkpoints.replace(alive)(induced(alive)
        .filter(col("__deg") >= k)
        .select(col("__id"))
        .checkpointed)
    // materialized, so the scope frees the edges and survivors it reads
    // (survivor degrees are core-sized — bounded output, not corpus data)
    induced(alive)
      .select(col("__id").as(idOut(aCol, bCol)), col("__deg").as("degree"))
      .checkpointed
  }

  /** Output id column name for vertex results derived from an (aCol,
    * bCol) edge list: the common "id_" prefix-stripped stem when the two
    * agree (id_a/id_b → id), else aCol.
    */
  private def idOut(aCol: String, bCol: String): String =
    if (aCol == "id_a" && bCol == "id_b") "id" else aCol

  /** HITS over the doc-term bipartite graph (Kleinberg 1999,
    * "Authoritative sources in a hyperlinked environment") — the
    * mutual-reinforcement centrality completing the family (PageRank =
    * stationary flow, PPR = seeded proximity, HITS = hub/authority
    * duality): a token is AUTHORITATIVE when many good hub documents
    * contain it; a document is a good HUB when it contains many
    * authoritative tokens. `iters` synchronous rounds of
    * a = G^T h, h = G a, each side renormalized to max = 10^6 by
    * integer division (all quantities nonnegative — no sign handling;
    * the PCA normalize-by-max discipline), from the uniform hub start.
    *
    * Scale: the edge list is DISTINCT (doc, token) — one dedup pass —
    * and is checkpointed TWICE, hash-partitioned by each half-round's
    * join key (doc and token), with the rounds in a tuned child
    * session ([[Serving]], AQE off, partition count derived from the
    * edge count): the vertex frames come out of each half-round's
    * groupBy already partitioned on the next join's key, so with
    * shuffle-hash joins a half-round's ONLY exchange is its own
    * vertex-domain aggregate, and each half-round is materialized once
    * (the 1-row max rides the checkpoint instead of re-running the
    * join). Integer sums are partitioning-independent, so the fit is
    * bit-identical in either session. Rounds are a fixed constant; the
    * oracle unrolls them.
    *
    * Output: top-`k` tokens by (authority desc, token asc) as
    * (token, auth_q).
    */
  def hitsAuthorities(docs: DataFrame, idCol: String, textCol: String,
      iters: Int, k: Int): DataFrame = Checkpoints.owned {
    require(iters >= 1 && iters <= 8, s"iters in [1,8], got $iters")
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.GraftBridge
    val scale = 1000000L
    val spark0 = docs.sparkSession
    val edges0 = docs.select(col(idCol).as("__doc"),
        explode(Text.tokens(col(textCol))).as("__tok"))
      .where(col("__tok").rlike("^[a-z]+$"))
      .distinct()
      .checkpointed
    // ~250k edges per round partition (each round's joins and folds
    // scan edge-sized streams): sf-sized corpora run a handful of
    // partitions, a 10^12-edge graph derives ~4M — capped as a
    // driver-metadata guard well past any real round width.
    val parts = math.max(1L,
      math.min(1L << 15, edges0.count() / 250000L + 1L)).toInt
    val ts = Serving.tuned(spark0, s"hits-rounds:$parts", parts)(_ => Nil)._1
    def bind(df: DataFrame): DataFrame =
      GraftBridge.dataFrame(ts, GraftBridge.logicalPlan(df))
    val edgesByDoc = bind(edges0).repartition(parts, col("__doc"))
      .checkpointed
    val edgesByTok = Checkpoints.replace(edges0)(bind(edges0)
      .repartition(parts, col("__tok")).checkpointed)
    // a = G^T h, then h = G a: both join sides hash-partitioned on the
    // key, so a half-round's one exchange is its vertex-domain fold
    def authority(hubs: DataFrame): DataFrame = {
      val araw = edgesByDoc.join(hubs.hint("shuffle_hash"), Seq("__doc"))
        .groupBy(col("__tok")).agg(sum(col("__h")).as("__ar"))
        .checkpointed
      val amax = araw.agg(max(col("__ar")).as("__am"))
      // decimal product: __ar * 10^6 would wrap long past ~9e6 docs;
      // IntegralDivide's long result is safe (quotient <= 10^6)
      araw.crossJoin(broadcast(amax))
        .select(col("__tok"),
          expr(s"(CAST(__ar AS decimal(38,0)) * $scale) div __am").as("__a"))
    }
    def hubsOf(auth: DataFrame): DataFrame = {
      val hraw = edgesByTok.join(auth.hint("shuffle_hash"), Seq("__tok"))
        .groupBy(col("__doc")).agg(sum(col("__a")).as("__hr"))
        .checkpointed
      val hmax = hraw.agg(max(col("__hr")).as("__hm"))
      hraw.crossJoin(broadcast(hmax))
        .select(col("__doc"),
          expr(s"(CAST(__hr AS decimal(38,0)) * $scale) div __hm").as("__h"))
    }
    // distinct over the doc-partitioned checkpoint: no exchange, and the
    // result carries hash(__doc, parts) into the first round's join
    var auth = authority(edgesByDoc.select(col("__doc")).distinct()
      .withColumn("__h", lit(scale)))
    var hubs = hubsOf(auth)
    for (_ <- 2 to iters) {
      auth = Checkpoints.replace(auth)(authority(hubs))
      hubs = Checkpoints.replace(hubs)(hubsOf(auth))
    }
    val out = auth
      .select(col("__tok").as("token"), col("__a").as("auth_q"))
      .orderBy(col("auth_q").desc, col("token").asc)
      .limit(k)
      .checkpointed
    GraftBridge.dataFrame(spark0, GraftBridge.logicalPlan(out))
  }

  /** Local clustering coefficient per vertex — the fraction of a
    * vertex's neighbor pairs that are themselves adjacent:
    * cc(v) = 2·t(v) / (deg(v)·(deg(v)-1)), t(v) the triangle support
    * from [[triangleCounts]]'s degree-oriented enumeration. The
    * per-node cohesion readout next to the raw triangle count: a
    * near-dup neighborhood with cc ~ 1 is one coherent content
    * cluster; cc ~ 0 at high degree is a chain/star of borderline
    * matches — the cut signal normalized for degree.
    *
    * Exact rational rendered in ppm ([[Stats.fixedPointExact]]);
    * vertices with deg < 2 (coefficient undefined) render NULL.
    * Output: (idCol, degree, n_triangles, cc_ppm) for EVERY vertex.
    *
    * Scale: degrees are one partial-aggregable count over the deduped
    * edge set; triangles O(m^1.5) wedge volume; one broadcast-sized
    * join back to the vertex frame. No windows, no all-pairs.
    */
  def clusteringCoef(edges: DataFrame, aCol: String, bCol: String,
      vertices: DataFrame, idCol: String): DataFrame = {
    val und = canonicalEdges(edges, aCol, bCol)
    val deg = und.select(explode(array(col("a"), col("b"))).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__deg"))
    val tri = triangleCounts(und, "a", "b", vertices, idCol)
    tri.join(deg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__deg"), lit(0L)).as("degree"),
        col("n_triangles"),
        when(coalesce(col("__deg"), lit(0L)) < 2L, lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(lit(2L) * col("n_triangles"),
            col("__deg") * (col("__deg") - 1L))).as("cc_ppm"))
  }

  /** Bounded-hop harmonic centrality (Boldi & Vigna 2014): for every
    * vertex, Σ_{v reached within maxHops} 1/d(u,v), with each reciprocal
    * on the 1e6 integer grid (1e6 div d — exact in any engine). The
    * closeness-family centrality that stays DEFINED on disconnected
    * graphs (unreached vertices contribute 0 instead of poisoning a
    * mean) — the standard "how near is everything" readout next to
    * PageRank's "how endorsed".
    *
    * Layered BFS, not per-pair shortest path: hop h's frontier is the
    * distinct neighbor set of hop h−1 minus everything already reached
    * (one equi-join + one anti-join per hop), so each (source, vertex)
    * pair is labeled with its true BFS distance exactly once. State is
    * Σ_u |ego_maxHops(u)| rows — linear in edges per hop on the
    * bounded-degree candidate graphs this runs on, and maxHops bounds it
    * by construction (the 100 TB contract: ego-centrality is always
    * hop-bounded; whole-graph diameters don't fit anyone's memory).
    *
    * Output: (idCol, n_reached, harmonic_e6) for EVERY vertex (0s where
    * isolated).
    */
  def harmonicCentrality(edges: DataFrame, aCol: String, bCol: String,
      vertices: DataFrame, idCol: String,
      maxHops: Int): DataFrame = Checkpoints.owned {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val sym = undirectedEdges(edges, aCol, bCol, "__src", "__dst")
      .filter(col("__src") =!= col("__dst"))
      .checkpointed
    var reached = sym
      .select(col("__src").as("__u"), col("__dst").as("__v"),
        lit(1L).as("__d"))
      .checkpointed
    var frontier = reached
    for (h <- 2 to maxHops) {
      val next = frontier
        .join(sym.withColumnRenamed("__dst", "__w"),
          col("__v") === col("__src"))
        .select(col("__u"), col("__w").as("__v"))
        .filter(col("__v") =!= col("__u"))
        .distinct()
        .join(reached.select(col("__u"), col("__v")), Seq("__u", "__v"),
          "left_anti")
        .withColumn("__d", lit(h.toLong))
        .checkpointed
      reached = Checkpoints.replace(reached)(
        reached.unionByName(next).checkpointed)
      frontier = Checkpoints.replace(frontier)(next)
    }
    val agg = reached.groupBy(col("__u").as(idCol))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000L div __d")).as("harmonic_e6"))
    vertices.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("harmonic_e6"), lit(0L)).as("harmonic_e6"))
  }

  /** Newman modularity of a community assignment over an undirected
    * graph — the quality score for [[labelPropagation]] (or any other
    * partition): Q = Σ_c [ e_c/m − (d_c/2m)² ], rendered per community
    * as the exact rational q_c_ppm = (4m·e_c − d_c²) / 4m² via
    * [[Stats.fixedPointExact]] (negative contributions — a community
    * sparser inside than random — survive the signed rounding). The
    * whole-partition Q is the sum of the per-community column; shipping
    * the decomposition instead of one number is what lets an audit SEE
    * which communities carry the structure.
    *
    * Scale: e_c is one partial-aggregable count over the deduped edge
    * list joined to the (vertex-sized) label table; d_c one degree sum;
    * the output is |communities| rows. Nothing pairwise, no windows.
    *
    * Output: (label, n_vertices, n_edges_in, deg_sum, q_c_ppm) ordered
    * by label.
    */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
      communities: DataFrame, idCol: String,
      labelCol: String = "label"): DataFrame = {
    val und = canonicalEdges(edges, aCol, bCol).checkpointed
    val lab = communities.select(col(idCol).as("__id"),
      col(labelCol).cast("long").as("__lbl"))
    val m = und.count()
    val inEdges = und
      .join(lab.select(col("__id").as("a"), col("__lbl").as("__la")),
        Seq("a"))
      .join(lab.select(col("__id").as("b"), col("__lbl").as("__lb")),
        Seq("b"))
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("n_edges_in"))
    val degSum = und.select(explode(array(col("a"), col("b"))).as("__id"))
      .join(lab, Seq("__id"))
      .groupBy(col("__lbl").as("label")).agg(count(lit(1)).as("deg_sum"))
    val members = lab.groupBy(col("__lbl").as("label"))
      .agg(count(lit(1)).as("n_vertices"))
    members
      .join(inEdges, Seq("label"), "left")
      .join(degSum, Seq("label"), "left")
      .select(col("label"), col("n_vertices"),
        coalesce(col("n_edges_in"), lit(0L)).as("n_edges_in"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"))
      .withColumn("q_c_ppm", Stats.fixedPointExact(
        lit(4L) * lit(m) * col("n_edges_in") -
          col("deg_sum") * col("deg_sum"),
        lit(4L) * lit(m) * lit(m)))
  }

  /** DEGREE ASSORTATIVITY (Newman 2002) of an undirected edge list —
    * do high-degree nodes link to high-degree nodes (social-network
    * signature, r > 0) or to leaves (hub-and-spoke/technological,
    * r < 0). The Pearson correlation of endpoint degrees over edges,
    * exact: with M = |E|, A = Σ dᵤ·dᵥ, B = Σ(dᵤ+dᵥ),
    * C = Σ(dᵤ²+dᵥ²) over undirected edges,
    * r = (4·M·A − B²) / (2·M·C − B²) — one signed rational in ppm.
    * Degree-regular graphs (zero variance, den = 0) render NULL.
    * One row: (n_edges, sum_jk, sum_j_plus_k, sum_j2_plus_k2, r_ppm).
    *
    * Scale: one union-all degree count plus two edge-keyed equi-joins
    * and a single aggregate — linear in edges, no pair enumeration.
    */
  /** CONDUCTANCE per community — the cut-quality score beside
    * [[modularity]]'s null-model one (Kannan, Vempala & Vetta 2004):
    * φ(C) = cut(C) / min(vol(C), vol(V∖C)) with cut = edges leaving C
    * and vol = summed degrees — low φ means a community keeps its
    * edges inside (a good cluster / a good partition for locality);
    * φ = 1 means every edge leaves (the score that catches label
    * propagation gluing strangers). Exact integer counts over the
    * DEDUPLICATED symmetric edge list (each undirected cut edge counts
    * once per side), φ in ppm; communities owning zero or all volume
    * render NULL (no outside to cut to).
    * Output: (label, n_vertices, vol, cut, phi_ppm).
    *
    * Scale: one symmetric-edge degree count, two id-equi-joins of
    * labels onto edges, community-sized aggregates — linear in edges,
    * the modularity shape.
    */
  def conductance(edges: DataFrame, aCol: String, bCol: String,
      communities: DataFrame, idCol: String,
      labelCol: String = "label"): DataFrame = {
    val sym = undirectedEdges(edges.filter(col(aCol) =!= col(bCol)),
      aCol, bCol, "s", "t")
    val lab = communities.select(col(idCol).as("__id"),
      col(labelCol).cast("long").as("__lbl"))
    val deg = sym.groupBy(col("s").as("__id"))
      .agg(count(lit(1)).as("__deg"))
    val vol = lab.join(deg, Seq("__id"), "left")
      .groupBy(col("__lbl"))
      .agg(count(lit(1)).as("n_vertices"),
        sum(coalesce(col("__deg"), lit(0L))).as("vol"))
    val tot = broadcast(vol.agg(sum(col("vol")).as("__volall")))
    val cut = sym
      .join(lab.select(col("__id").as("s"), col("__lbl").as("__ls")),
        Seq("s"))
      .join(lab.select(col("__id").as("t"), col("__lbl").as("__lt")),
        Seq("t"))
      .filter(col("__ls") =!= col("__lt"))
      .groupBy(col("__ls").as("__lbl")).agg(count(lit(1)).as("cut"))
    vol.join(cut, Seq("__lbl"), "left").crossJoin(tot)
      .select(col("__lbl").as("label"), col("n_vertices"), col("vol"),
        coalesce(col("cut"), lit(0L)).as("cut"),
        when(least(col("vol"), col("__volall") - col("vol")) === 0L,
          lit(null).cast("long"))
          .otherwise(Stats.fixedPointExact(
            coalesce(col("cut"), lit(0L)),
            least(col("vol"), col("__volall") - col("vol"))))
          .as("phi_ppm"))
  }

  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val e = edges.select(col("id_a"), col("id_b"))
    val deg = e.select(col("id_a").as("__v"))
      .unionAll(e.select(col("id_b").as("__v")))
      .groupBy(col("__v")).agg(count(lit(1)).as("__d"))
    val j = e
      .join(deg.select(col("__v").as("id_a"), col("__d").as("__da")),
        Seq("id_a"))
      .join(deg.select(col("__v").as("id_b"), col("__d").as("__db")),
        Seq("id_b"))
    j.agg(count(lit(1)).cast(dec).as("__m"),
        coalesce(sum((col("__da").cast(dec) * col("__db")).cast(dec)),
          lit(0).cast(dec)).cast(dec).as("__A"),
        coalesce(sum(col("__da") + col("__db")), lit(0L)).cast(dec)
          .as("__B"),
        coalesce(sum((col("__da").cast(dec) * col("__da") +
          col("__db").cast(dec) * col("__db")).cast(dec)),
          lit(0).cast(dec)).cast(dec).as("__C"))
      .select(col("__m").cast("long").as("n_edges"),
        col("__A").cast("long").as("sum_jk"),
        col("__B").cast("long").as("sum_j_plus_k"),
        col("__C").cast("long").as("sum_j2_plus_k2"),
        when((lit(2L).cast(dec) * col("__m") * col("__C") -
            col("__B") * col("__B")).cast(dec) > 0,
          graft.functions.Stats.fixedPointExact(
            (lit(4L).cast(dec) * col("__m") * col("__A") -
              col("__B") * col("__B")).cast(dec),
            (lit(2L).cast(dec) * col("__m") * col("__C") -
              col("__B") * col("__B")).cast(dec)))
          .as("r_ppm"))
  }
}
