package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Near-duplicate cluster assignment: connected components over a
  * candidate-pair edge list (the output of MinHash-LSH banding, n-gram
  * Jaccard, or embedding near-dup), labeling every document with the
  * smallest reachable document id. The label IS the cluster id, so the
  * canonical representative of each cluster is the document whose id
  * equals its component — the standard "keep one per near-dup cluster"
  * step between candidate generation and corpus writing.
  *
  * Scale design (100 TB): iterative min-label propagation WITH pointer
  * jumping. Each round is one equi-join (labels onto edge sources) plus
  * one partial-aggregable min-groupBy, then one label-sized self-join
  * that adopts the label of the label — both shuffle on the vertex id,
  * so AQE can coalesce and the map-side combine keeps message volume at
  * O(edges). The jump makes rounds O(log diameter), not O(diameter):
  * near-dup cliques converge in 2-3 rounds either way, but path-shaped
  * graphs (mutual-kNN chains) would exhaust any fixed cap without it.
  * Convergence is an exact old-vs-new label join stopped at
  * the first changed row. Lineage is truncated every round with an eager
  * localCheckpoint, and each superseded round's blocks are freed as soon
  * as the next round materializes — without truncation the iterated plan
  * grows superlinearly and the optimizer re-walks it every round (on a
  * cluster with a reliable checkpoint dir, swap in `checkpoint()` for
  * executor-failure tolerance).
  */
object Cluster {

  /** Component label per vertex: (idCol, component) where component is the
    * minimum vertex id reachable from the vertex through `edges`
    * (undirected). Vertices absent from every edge keep their own id
    * (singleton clusters). Edge endpoints must be drawn from `vertices` —
    * endpoints outside it would receive labels but are not part of the
    * declared universe (near-dup pairs are always derived from the corpus,
    * so the contract holds by construction there).
    *
    * Throws IllegalStateException if the fixpoint is not reached within
    * `maxIter` rounds — partially-propagated labels are silently-wrong
    * components, never a valid result. With pointer jumping each round
    * roughly doubles the propagated distance, so the default cap covers
    * components of diameter far beyond any real candidate graph
    * (2^20-ish); hitting it signals a pathological graph, not a tuning
    * knob to chase.
    *
    * @param edges    candidate pairs, one row per undirected edge
    * @param aCol     edge endpoint column in `edges`
    * @param bCol     edge endpoint column in `edges`
    * @param vertices one row per document in the universe
    * @param idCol    vertex id column in `vertices` (any orderable type —
    *                 labels travel through `min`, so numeric ids cluster to
    *                 the numeric min, string ids to the lexicographic min)
    * @param maxIter  propagation-round cap (component-diameter bound)
    */
  /** Session memo ([[PlanMemo]]) for the converged
    * label set — THREE catalog entries (near-dup clustering, canonical
    * selection, leakage-safe split) run components over the identical
    * LSH candidate graph, each paying the full eager driver loop.
    * The memoized value is the final (id, component) checkpoint —
    * corpus-sized but two columns.
    */
  private val ccMemo = new PlanMemo[DataFrame]

  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      vertices: DataFrame, idCol: String, maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    import org.apache.spark.sql.GraftBridge
    ccMemo(edges, vertices, aCol, bCol, idCol, maxIter) {
      // Undirected: materialize both directions once; dedup cuts message
      // volume when the candidate generator emits a pair via several bands.
      val sym = Graph.undirectedEdges(edges, aCol, bCol, "__s", "__t")
        .localCheckpoint(true)
      var labels = vertices.select(col(idCol).as("__id"), col(idCol).as("__comp"))
        .localCheckpoint(true)
      var it = 0
      var converged = false
      while (it < maxIter && !converged) {
        val msgs = sym
          .join(labels.withColumnRenamed("__id", "__s"), Seq("__s"))
          .select(col("__t").as("__id"), col("__comp"))
        val hopped = labels.union(msgs)
          .groupBy(col("__id"))
          .agg(min(col("__comp")).as("__comp"))
        // Pointer jumping: adopt the label OF the current label (labels are
        // vertex ids, so l(v) always has a row; l(l(v)) <= l(v) because a
        // vertex's own label never exceeds its id). One extra label-sized
        // equi-join per round turns chain convergence from O(diameter)
        // rounds into O(log diameter) — near-dup cliques never notice, but
        // path-shaped graphs (mutual-kNN chains, long span overlaps) would
        // otherwise need diameter-many rounds against any fixed maxIter.
        // (A second jump per round was measured SLOWER at bench scale: the
        // extra per-round join barrier cost more than the rounds it saved.)
        val next = hopped
          .join(hopped.select(col("__id").as("__comp"),
            col("__comp").as("__cc")), Seq("__comp"))
          .select(col("__id"), least(col("__comp"), col("__cc")).as("__comp"))
          .localCheckpoint(true)
        // Exact, type-agnostic convergence: did any vertex's label change?
        // (Labels only decrease, so inequality == change.) One join of the
        // two checkpointed label sets per round, stopped at the first
        // changed row — dwarfed by the msgs join. An aggregate statistic
        // (e.g. label sums) would be cheaper but either overflows ANSI
        // arithmetic at 64-bit-id scale or can't handle string ids at all.
        converged = next
          .join(labels.select(col("__id"), col("__comp").as("__old")), Seq("__id"))
          .filter(col("__comp") =!= col("__old"))
          .isEmpty
        GraftBridge.unpersistCheckpoint(labels) // superseded round's blocks
        labels = next
        it += 1
      }
      GraftBridge.unpersistCheckpoint(sym)
      if (!converged) {
        GraftBridge.unpersistCheckpoint(labels)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds — a " +
            "component's diameter exceeds the cap; raise maxIter (with " +
            "pointer jumping, rounds needed ~= log2 of the longest chain)")
      }
      labels.select(col("__id").as(idCol), col("__comp").as("component"))
    }
  }

  /** Cluster assignment with sizes: (idCol, component, csize, is_rep) —
    * `is_rep` marks the canonical representative (id == component).
    */
  def assignClusters(edges: DataFrame, aCol: String, bCol: String,
      vertices: DataFrame, idCol: String, maxIter: Int = 20): DataFrame =
    withSizes(
      connectedComponents(edges, aCol, bCol, vertices, idCol, maxIter), idCol)

  /** (idCol, component) → (idCol, component, csize, is_rep). */
  private def withSizes(comp: DataFrame, idCol: String): DataFrame = {
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    comp.join(sizes, Seq("component"))
      .select(col(idCol), col("component"),
        col("csize"), (col(idCol) === col("component")).as("is_rep"))
  }

  /** BLOCK-LOCAL connected components: when the edge generator guarantees
    * every edge stays inside a block (cell-blocked near-dup pairs,
    * in-cell mutual-kNN edges — any candidate stage of the form
    * `a.join(b, "cell")`), components cannot span blocks, so the global
    * iterative label loop is pure overhead: ONE shuffle on the block id
    * and a per-block union-find replace the whole fixpoint. Each block's
    * vertices + edges are folded in a single pass (path-compressed,
    * min-id-rooted union-find — labels identical to
    * [[connectedComponents]]'), so the cost is O(|block| · α) per block
    * with NO per-round join barriers, no checkpoints, no convergence
    * actions. At 100 TB this is the difference between one
    * partial-free shuffle and log(diameter) full-materialization rounds
    * — provided block sizes stay bounded (the cell-blocked generators'
    * deriveKCells contract), which also bounds executor memory here.
    *
    * Vertex ids must be integral (they travel as longs through the
    * typed per-block fold); blocks must PARTITION the vertices — a
    * vertex listed under two blocks would be labeled twice. Both hold
    * by construction for the k-means-cell generators.
    *
    * @param edges    in-block candidate pairs: (blockCol, aCol, bCol)
    * @param vertices one row per vertex WITH its block: (blockCol, idCol)
    */
  def blockedComponents(edges: DataFrame, blockCol: String, aCol: String,
      bCol: String, vertices: DataFrame, idCol: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    def integral(df: DataFrame, c: String): Unit = {
      val t = df.schema(c).dataType
      require(Seq("byte", "short", "int", "long", "integer", "bigint",
          "smallint", "tinyint").contains(t.typeName),
        s"blockedComponents needs integral ids; $c is ${t.typeName}")
    }
    integral(edges, aCol); integral(edges, bCol); integral(vertices, idCol)
    // Vertices ride along as self-loops, so singletons label themselves
    // and every block sees its full universe in one grouped pass.
    val rows = vertices.select(col(blockCol).cast("long"),
        col(idCol).cast("long"), col(idCol).cast("long"))
      .union(edges.select(col(blockCol).cast("long"),
        col(aCol).cast("long"), col(bCol).cast("long")))
      .as[(Long, Long, Long)]
    rows.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (_, a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          // larger root under smaller ⇒ every root is its set's min id
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        // snapshot keys first: find() path-compresses values mid-iteration
        parent.keys.toArray.map(v => (v, find(v))).iterator
      }
      .toDF(idCol, "component")
  }

  /** TWO-LEVEL connected components for spatially-blocked graphs whose
    * components DO span blocks — the middle ground between
    * [[connectedComponents]] (fully general, log(diameter) join rounds)
    * and [[blockedComponents]] (one pass, but components must stay
    * in-block). Geometric candidate graphs (DBSCAN eps-neighbors, grid
    * near-dup cells) percolate: a near-critical eps-graph forms thin
    * chains hundreds of hops long, and min-label propagation — even
    * pointer-jumped — pays a join round per label doubling, which
    * measured PAST a 20-round cap on the sf0.1 eps-graph. Here the
    * fixpoint never sees those chains: every intra-tile edge is folded by
    * the per-tile union-find in ONE grouped pass (state bounded by tile
    * size — the caller's tiling contract), and the iterative loop runs
    * only on the contracted remnant (one supernode per tile-local
    * component, edges = tile-crossing pairs), whose diameter is the TILE
    * graph's, not the point graph's.
    *
    * Contraction validity: a tile-local root is the min id of a set of
    * genuinely-connected vertices, so remnant min-label CC converges to
    * the component's global min id — labels are IDENTICAL to running
    * [[connectedComponents]] on the raw graph (spec-pinned).
    *
    * Requirements: integral ids; `tileCol` must be a function of the
    * VERTEX (both edge tile columns derived from their endpoint's tile),
    * so intra-tile edges group uniquely and tiles partition the vertices.
    *
    * @param edges    (aCol, bCol, tileACol, tileBCol) candidate pairs
    * @param vertices (idCol, tileCol), one row per vertex
    */
  def tiledComponents(edges: DataFrame, aCol: String, bCol: String,
      tileACol: String, tileBCol: String, vertices: DataFrame,
      idCol: String, tileCol: String, maxIter: Int = 20): DataFrame = {
    val intra = edges.filter(col(tileACol) === col(tileBCol))
      .select(col(tileACol).as("__tile"), col(aCol).as("__a"),
        col(bCol).as("__b"))
    val verts = vertices.select(col(tileCol).as("__tile"),
      col(idCol).cast("long").as("__v"))
    val roots = blockedComponents(intra, "__tile", "__a", "__b",
        verts, "__v")
      .select(col("__v"), col("component").as("__root"))
      .localCheckpoint(true)
    // Only tile-crossing edges can join two local roots (an intra-tile
    // edge's endpoints already share one), so the remnant edge build
    // never touches the intra volume.
    val cross = edges.filter(col(tileACol) =!= col(tileBCol))
      .select(col(aCol).cast("long").as("__v"),
        col(bCol).cast("long").as("__vb"))
      .join(roots, Seq("__v"))
      .select(col("__vb").as("__v"), col("__root").as("__ra"))
      .join(roots, Seq("__v"))
      .filter(col("__ra") =!= col("__root"))
      .select(col("__ra").as("id_a"), col("__root").as("id_b"))
    val remnant = roots.select(col("__root").as("__v")).distinct()
    val cc = connectedComponents(cross, "id_a", "id_b", remnant, "__v",
      maxIter)
    roots.join(cc.withColumnRenamed("__v", "__root"), Seq("__root"))
      .select(col("__v").as(idCol), col("component"))
  }

  /** [[blockedComponents]] with sizes/representatives — the block-local
    * counterpart of [[assignClusters]], same output schema.
    */
  def blockedAssignClusters(edges: DataFrame, blockCol: String, aCol: String,
      bCol: String, vertices: DataFrame, idCol: String): DataFrame =
    withSizes(
      blockedComponents(edges, blockCol, aCol, bCol, vertices, idCol), idCol)

  /** Keep one document per near-dup cluster: the rows of `docs` whose id
    * is its cluster's canonical representative. One semi-join against the
    * (already tiny) representative set.
    */
  def representatives(docs: DataFrame, idCol: String,
      assignment: DataFrame): DataFrame = {
    val reps = assignment.filter(col("is_rep")).select(col(idCol))
    docs.join(reps, Seq(idCol), "left_semi")
  }

  /** QUALITY-ranked canonical selection — keep the BEST document of each
    * near-dup cluster instead of the smallest id (the RefinedWeb/Dolma
    * rule: among near-duplicates, keep the longest / highest-quality
    * copy). `scores` is (idCol, scoreCol); the winner per component is
    * the max score with the id as tie-break. Singleton clusters keep
    * their only member, so the kept set is exactly one doc per component.
    *
    * One equi-join (assignment × scores, both id-keyed) and one
    * component-keyed window over component-sized partitions — the same
    * shuffle geometry as the size count inside [[assignClusters]];
    * nothing scales with pair volume. Output: (idCol, component, csize,
    * scoreCol, keep).
    */
  def canonicalByScore(assignment: DataFrame, idCol: String,
      scores: DataFrame, scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol))
    assignment.select(col(idCol), col("component"), col("csize"))
      .join(scores.select(col(idCol), col(scoreCol)), Seq(idCol))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("component"), col("csize"), col(scoreCol),
        col("keep"))
  }

  /** DUPLICATE-AWARE TRAINING WEIGHTS — the soft alternative to
    * dropping near-duplicates (the SemDeDup/D4 finding: duplicated
    * text should count ONCE toward the training distribution, however
    * many copies the crawl found): every member of a near-dup cluster
    * gets weight 1/csize, so each cluster contributes exactly one
    * document's mass and the mixture is dedup-invariant without
    * discarding any row (copies still add coverage/ordering slack).
    * `comp` is [[assignClusters]] output; `toks` carries (idCol,
    * n_tokens). Weights and effective token mass are exact rationals
    * in ppm. Output: (idCol, component, csize, n_tokens, w_ppm,
    * eff_tokens_ppm).
    *
    * Scale: one id-keyed equi-join over the already-clustered relation
    * — linear; the cluster chain itself is the memoized
    * connected-components pass.
    */
  def dedupWeights(comp: DataFrame, toks: DataFrame,
      idCol: String): DataFrame =
    comp.join(toks, Seq(idCol))
      .select(col(idCol), col("component"), col("csize"), col("n_tokens"),
        Stats.fixedPointExact(lit(1L), col("csize")).as("w_ppm"),
        Stats.fixedPointExact(col("n_tokens"), col("csize"))
          .as("eff_tokens_ppm"))
}
