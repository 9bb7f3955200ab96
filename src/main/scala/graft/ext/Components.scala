package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list —
  * the missing tail of every near-dup dedup pipeline: [[Dedup]] emits
  * PAIRS (LSH / n-gram / embedding candidates), but choosing one
  * survivor per duplicate *cluster* needs the transitive closure of
  * those pairs.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each
  * round is two hash-shuffle aggregations + joins over the edge set,
  * converging in O(log n) rounds to the star graph where every node
  * points at its component's minimum id.  No driver-side graph state:
  * the only driver values are per-round convergence counts.  At 100 TB
  * the edge set (near-dup pairs) is orders of magnitude smaller than
  * the corpus, and per-round cost is O(|E|) shuffle — this is the
  * plan that survives scale, unlike label propagation whose round
  * count is the graph DIAMETER (a 1M-long chain needs 1M rounds;
  * large-star/small-star needs ~20).
  *
  * Lineage is cut every round with `localCheckpoint` (iterative
  * self-joins otherwise grow the plan exponentially); on a cluster
  * with a checkpoint dir configured, reliable `checkpoint()` would be
  * the durable choice — localCheckpoint keeps the library free of a
  * checkpoint-dir requirement.  Block lifecycle: each round drops the
  * driver's reference to the previous round's checkpoint, whose
  * blocks the ContextCleaner then releases on GC — resident storage
  * is a few |E|-sized edge sets, not O(rounds); |E| (near-dup pairs)
  * is itself orders of magnitude below the corpus.
  */
object Components {

  /** Label every node of `nodes` with the minimum node id reachable
    * through `edges` (undirected); isolated nodes label themselves.
    * Ids must be a single orderable numeric/string column.  Output:
    * (`nodeCol`, "component"), one row per distinct node. */
  /** @param checkpointDir when set, per-round lineage cuts use
    *   RELIABLE `checkpoint()` into this directory instead of
    *   `localCheckpoint()` — the durable choice on a real cluster,
    *   where a localCheckpoint dies with its executor and would force
    *   a full job restart; local mode and tests default to the
    *   cheaper executor-local form.  Superseded round checkpoints are
    *   deleted as the iteration advances (Spark never cleans reliable
    *   checkpoint files itself); only the final round's file lives
    *   until the session ends.  Note `setCheckpointDir` is a
    *   SparkContext-global setting — a pre-existing dir is restored
    *   after the loop. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String, maxIter: Int = 50,
      checkpointDir: Option[String] = None,
      maxDriverCloseEdges: Int = DefaultMaxDriverCloseEdges): DataFrame = {
    require(maxIter > 0, s"maxIter must be > 0, got $maxIter")
    val s = edges.sparkSession
    val canonEdges = canon(edges.select(col(srcCol).as("u"), col(dstCol).as("v")))
    // Bounded driver path, [[contractBatch]]'s established contract:
    // when the canonical edge set fits `maxDriverCloseEdges`, ONE
    // collect + an in-memory union-find replaces the distributed
    // loop's ~3 jobs per round (two star shuffles + a lineage cut +
    // a convergence probe) — at near-dup-pair edge counts the loop is
    // pure fixed job overhead (measured at sf0.1: 256 pairs took
    // 0.66 s distributed, <0.1 s collected).  Graphs past the ceiling
    // — the 100 TB shape — take the iterative path unchanged, reading
    // the SAME materialized canonical set the probe produced;
    // `maxDriverCloseEdges = 0` forces it (specs pin path equality).
    // Linking larger root under smaller makes every root its
    // component's min — the identical label contract.
    if (maxDriverCloseEdges > 0) {
      // Probe materialization is checkpoint-mode-dependent (r19).
      // Without a checkpoint dir the probe localCheckpoints FIRST:
      // the cut doubles as the distributed loop's initial lineage cut
      // on fall-through, so either path pays exactly one
      // materialization.  WITH a dir, localCheckpointing here would
      // materialize the ENTIRE canonical edge set to executor-local
      // storage and then the loop's reliable cut would write the same
      // data AGAIN — at 100 TB edge volume one extra full write+read
      // for nothing.  Instead the probe runs on the un-materialized
      // frame (CollectLimit early-terminates: it stops launching
      // partitions once maxDriverCloseEdges+1 rows arrive) and the
      // loop's reliable checkpoint is the ONLY full materialization.
      val first =
        if (checkpointDir.isEmpty) canonEdges.localCheckpoint() else canonEdges
      val probe = first.limit(maxDriverCloseEdges + 1).collect()
      if (probe.length <= maxDriverCloseEdges) {
        val idType = first.schema.head.dataType
        val moved = unionFindMoved(probe)
        val labels = s.createDataFrame(moved,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(nodeCol, idType),
            org.apache.spark.sql.types.StructField("component", idType))))
        return nodes.select(col(nodeCol)).distinct()
          .join(broadcast(labels), Seq(nodeCol), "left")
          .select(col(nodeCol),
            coalesce(col("component"), col(nodeCol)).as("component"))
      }
      // past the ceiling: fall through to the distributed loop —
      // localCheckpoint mode reads the already-materialized set (no
      // recompute); reliable mode lets the loop's first cut be the
      // single materialization (see probe note above)
      return connectedComponentsDistributed(first, nodes, nodeCol,
        maxIter, checkpointDir, alreadyCut = checkpointDir.isEmpty)
    }
    connectedComponentsDistributed(canonEdges, nodes, nodeCol, maxIter,
      checkpointDir, alreadyCut = false)
  }

  /** Materialize an intermediate ONCE for consumption by several plan
    * branches, checkpoint-mode-dependent (the same dispatch the
    * closure loop's per-round cut uses): reliable `checkpoint()` when
    * the SparkContext has a checkpoint dir configured — on a real
    * cluster a lost executor then degrades to re-reading the file
    * instead of failing the job (localCheckpoint blocks are not
    * recomputable once lineage is truncated) — else the cheaper
    * executor-local `localCheckpoint()`, which keeps library callers
    * free of a checkpoint-dir requirement.  Both are eager.  Reliable
    * files are not self-cleaning: they live until the dir is cleaned
    * externally or `spark.cleaner.referenceTracking.cleanCheckpoints`
    * collects them — acceptable for a per-query intermediate, unlike
    * the closure loop's per-round files (which the loop deletes as
    * rounds supersede). */
  def materializeOnce(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Collected canonical edges → union-find → (node, minLabel) rows
    * for every node whose label is not itself.  Shared by the bounded
    * driver paths of [[connectedComponents]] and [[contractBatch]];
    * larger-under-smaller linking keeps every root the component
    * minimum (the label contract). */
  private def unionFindMoved(rows: Array[org.apache.spark.sql.Row])
      : java.util.ArrayList[org.apache.spark.sql.Row] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    rows.foreach { row =>
      val (u, v) = (row.get(0), row.get(1))
      parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { if (lt(ru, rv)) parent.put(rv, ru) else parent.put(ru, rv) }
    }
    val moved = new java.util.ArrayList[org.apache.spark.sql.Row]()
    parent.keySet().forEach { n =>
      val r = find(n)
      if (r != n) moved.add(org.apache.spark.sql.Row(n, r))
    }
    moved
  }

  /** The alternating large-star/small-star loop over a CANONICAL edge
    * frame (`u` > `v`, distinct, no self-loops).  `alreadyCut` skips
    * the initial lineage cut when the caller already materialized the
    * canonical set (the bounded probe's localCheckpoint). */
  private def connectedComponentsDistributed(canonEdges: DataFrame,
      nodes: DataFrame, nodeCol: String, maxIter: Int,
      checkpointDir: Option[String], alreadyCut: Boolean): DataFrame = {
    val sc = canonEdges.sparkSession.sparkContext
    val prevDir = sc.getCheckpointDir
    val cut: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        sc.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }
    def deleteCheckpoint(df: DataFrame): Unit =
      org.apache.spark.sql.graftshim.Bridge.checkpointFile(df).foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
    var cur = if (alreadyCut) canonEdges else cut(canonEdges)
    var converged = cur.isEmpty
    var it = 0
    try {
      while (!converged && it < maxIter) {
        val next = cut(smallStar(largeStar(cur)))
        // Convergence = `next` IS a star forest (every non-root node
        // has exactly one edge, to a node smaller than itself, and no
        // root has an out-edge).  Both star operations preserve
        // connectivity (Kiveris et al. SoCC'14, Lemmas 1-2) and only
        // ever link within a component, so at a star forest each
        // tree's root is smaller than every member — i.e. it IS the
        // component minimum, the final label.  Testing the structural
        // property directly needs ONE job (union + hash agg + isEmpty
        // with limit 1) instead of the former count + except pair
        // (two jobs, the second a full set-difference shuffle), and
        // fires one round EARLIER than an edge-set-equality test
        // (which needs an extra fixed-point round to observe
        // next == cur).  Matters at 100 TB where every round is an
        // O(|E|) shuffle.
        converged = isStarForest(next)
        // the convergence action above was the last reader of cur's
        // round — its reliable checkpoint file can go now
        if (checkpointDir.isDefined) deleteCheckpoint(cur)
        cur = next
        it += 1
      }
    } catch {
      case t: Throwable =>
        // a failed run's surviving round checkpoint is debris —
        // best-effort delete before propagating
        if (checkpointDir.isDefined)
          try deleteCheckpoint(cur) catch { case _: Throwable => () }
        throw t
    } finally {
      // the checkpoint dir is SparkContext-global: put the caller's
      // back whether we converged or threw — including restoring a
      // previously-UNSET dir (via the shim; no public unset exists).
      // Leaving the global pointed at our scratch dir would silently
      // flip every later [[materializeOnce]] to the reliable path.
      if (checkpointDir.isDefined) prevDir match {
        case Some(d) => sc.setCheckpointDir(d)
        case None =>
          org.apache.spark.sql.graftshim.Bridge.clearCheckpointDir(sc)
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "raise maxIter (expected rounds ~ log(maxComponentSize))")
    val labels = cur.select(col("u").as(nodeCol), col("v").as("component"))
    nodes.select(col(nodeCol)).distinct()
      .join(labels, Seq(nodeCol), "left")
      .select(col(nodeCol),
        coalesce(col("component"), col(nodeCol)).as("component"))
  }

  /** Incremental closure: fold ONE new batch of edges into an
    * existing assignment without replaying historical pairs — the
    * continuous-ingest companion to [[connectedComponents]], pairing
    * with the incremental LSH index ([[Dedup.writeLshIndex]] /
    * [[Dedup.lshPairsAgainstIndex]]): each arriving batch yields new
    * candidate pairs, and cluster assignments must follow without a
    * full recompute.
    *
    * `prior` is a valid assignment (`nodeCol`, "component") where
    * every component label is the MINIMUM member id — exactly what
    * [[connectedComponents]] (and this method) emit.  The update
    * contracts each prior component to its label: a new edge (a, b)
    * becomes an edge between labels (rootOf(a), rootOf(b)), same-root
    * edges drop, and the closure runs over that ROOT graph alone —
    * O(|batch|) edges, never O(|history|).  Contraction preserves
    * both connectivity and min-labels (a component's label is already
    * the min of its members, so the merged min over roots is the
    * merged min over members), making the result bit-identical to a
    * full recompute over history ∪ batch.
    *
    * Output covers prior nodes ∪ batch endpoints (batch endpoints
    * unseen before enter as their own root).  The remap join's right
    * side holds only roots whose label CHANGED this batch — bounded
    * by the roots the batch touches (≤ 2·|batch|) and tiny in steady
    * state — and is broadcast EXPLICITLY: without the hint the build
    * side has no shuffle-stage boundary for AQE to re-plan at and
    * Spark falls back to a sort-merge join that shuffles the whole
    * assignment table per batch (pinned in PlanShapeSpec).  For a
    * backfill-sized "batch" where 2·|batch| roots could overwhelm a
    * broadcast, the right tool is the one-shot
    * [[connectedComponents]] over history ∪ batch, not this method.
    * Per-batch cost — two streaming scans of the prior table
    * (endpoint-root lookup, remap; each probes a broadcast hash,
    * neither shuffles or rebroadcasts the table itself — see
    * [[contractBatch]]) plus a batch-sized closure — is the shape
    * that survives a 10^9-node assignment table at 100 TB, where
    * replaying history (or shuffling the assignment table per batch)
    * would not. */
  def incrementalComponents(prior: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String, nodeCol: String, maxIter: Int = 50,
      checkpointDir: Option[String] = None,
      maxDriverCloseEdges: Int = DefaultMaxDriverCloseEdges): DataFrame = {
    val pri = prior.select(col(nodeCol).as("n"), col("component").as("c"))
    val (changed, newNodes) = contractBatch(pri, newEdges, srcCol, dstCol,
      maxIter, checkpointDir, maxDriverCloseEdges)
    pri.union(newNodes)
      .join(broadcast(changed), Seq("c"), "left")
      .select(col("n").as(nodeCol),
        coalesce(col("c2"), col("c")).as("component"))
  }

  /** Shared prologue of the incremental variants: contract the batch
    * onto prior roots, close over the root graph, and return
    * (`changed` = old-root → new-root for roots whose label moved,
    * `newNodes` = (n, c=n) first assignments for unseen endpoints).
    *
    * Bounded driver path: when the batch's canonical edge set fits
    * `maxDriverCloseEdges`, the whole contraction runs on the driver —
    * one collect of the edges, one collect of their endpoints' prior
    * roots (the prior table streams past a broadcast of the endpoint
    * set), then union-find over the contracted root graph; both
    * outputs come back as local frames.  At near-dup-pair edge counts this
    * replaces the distributed form's lineage cuts, contraction joins
    * and closure rounds — pure fixed job overhead on a micro-batch.
    * This is the established bounded-driver-reduce contract (k-means
    * centroid collect, takeByBudget histogram): the collected set is
    * operator-bounded, not data-bounded.  Linking larger root under
    * smaller makes each tree's root the component MINIMUM — the label
    * the distributed path emits (ComponentsSpec pins the two paths
    * equal).  Batches past the ceiling — backfill-sized — take
    * [[contractDistributed]]; `maxDriverCloseEdges = 0` forces it. */
  private def contractBatch(pri: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int,
      checkpointDir: Option[String],
      maxDriverCloseEdges: Int): (DataFrame, DataFrame) = {
    val e = canon(newEdges.select(col(srcCol).as("u"), col(dstCol).as("v")))
    if (maxDriverCloseEdges > 0) {
      val probe = e.limit(maxDriverCloseEdges + 1).collect()
      if (probe.length <= maxDriverCloseEdges)
        return contractOnDriver(pri, probe, e.schema.head.dataType)
    }
    contractDistributed(pri, e, maxIter, checkpointDir)
  }

  /** [[contractBatch]]'s driver path over the collected canonical
    * `edges`.  Prior roots are cast to the edges' id type so the
    * lookups compare like values. */
  private def contractOnDriver(pri: DataFrame,
      edges: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val s = pri.sparkSession
    def schema(names: String*) =
      StructType(names.map(StructField(_, idType)))
    // one partition: at the default split a driver-built frame lands
    // up to defaultParallelism tiny files in every log write it reaches
    def local(rows: Iterable[Row], names: String*) =
      s.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema(names: _*))
        .coalesce(1)
    val endpoints = edges.flatMap(r => Seq(r.get(0), r.get(1))).distinct
    // endpoints present in prior, with their roots: pri streams
    val rootOf: Map[Any, Any] = pri
      .join(broadcast(local(endpoints.map(Row(_)), "n")), Seq("n"), "inner")
      .select(col("n").cast(idType), col("c").cast(idType))
      .collect().map(r => r.get(0) -> r.get(1)).toMap
    def root(x: Any): Any = rootOf.getOrElse(x, x)
    // contracted root graph; same-root edges drop
    val rootEdges = edges.map(r => Row(root(r.get(0)), root(r.get(1))))
      .filter(r => r.get(0) != r.get(1))
    val changed = s.createDataFrame(unionFindMoved(rootEdges), schema("c", "c2"))
    val newNodes = local(endpoints.filterNot(rootOf.contains).map(n => Row(n, n)), "n", "c")
    (changed, newNodes)
  }

  /** [[contractBatch]] past the driver ceiling.  The ONE join that
    * touches the full prior table builds its hash from the broadcast
    * ENDPOINT set and streams `pri` past it (inner join, probe side
    * big) — at a 10^9-row assignment table the alternative
    * orientations are fatal: a left join FROM endpoints can only build
    * the prior side (broadcast the whole table), and letting Catalyst
    * pick at these sizes means a sort-merge join that shuffles it.
    * The O(|batch|)-sized hit set is localCheckpoint'd so the closure
    * and the caller's lazy tail don't re-scan the prior to re-derive
    * it.  The contracted root graph closes with the distributed
    * large-star/small-star loop. */
  private def contractDistributed(pri: DataFrame, e: DataFrame, maxIter: Int,
      checkpointDir: Option[String]): (DataFrame, DataFrame) = {
    val endpoints = e.select(col("u").as("n"))
      .union(e.select(col("v").as("n"))).distinct()
    // endpoints present in prior, with their roots: pri streams
    val hit = pri.join(broadcast(endpoints), Seq("n"), "inner")
      .localCheckpoint()
    val hitN = hit.select("n")
    val newNodes = endpoints.join(broadcast(hitN), Seq("n"), "left_anti")
      .select(col("n"), col("n").as("c"))
    // each endpoint's prior root; unseen endpoints root themselves
    val endpointRoot = hit.select(col("n"), col("c").as("r"))
      .union(newNodes.select(col("n"), col("c").as("r")))
    val rootEdges = e
      .join(endpointRoot.select(col("n").as("u"), col("r").as("ru")), Seq("u"))
      .join(endpointRoot.select(col("n").as("v"), col("r").as("rv")), Seq("v"))
      .where(col("ru") =!= col("rv"))
      .select("ru", "rv")
    // closure over the contracted root graph: O(|batch|) edges; the
    // driver ceiling was already probed (or disabled) — don't re-probe
    val changed = connectedComponents(rootEdges, "ru", "rv",
        endpointRoot.select(col("r").as("n")).distinct(), "n",
        maxIter, checkpointDir, maxDriverCloseEdges = 0)
      .where(col("n") =!= col("component"))
      .select(col("n").as("c"), col("component").as("c2"))
    (changed, newNodes)
  }

  /** Default ceiling for [[contractBatch]]'s and
    * [[connectedComponents]]'s driver paths: 10^6 edges ≈ tens of MB
    * of boxed ids on the driver — the same order as the broadcast the
    * remap already requires, so the driver path never admits a graph
    * the downstream broadcast couldn't. */
  val DefaultMaxDriverCloseEdges: Int = 1000000

  /** The DELTA form of [[incrementalComponents]]: same contraction,
    * but the output holds ONLY rows whose assignment differs from
    * `prior` — members of components whose root label changed this
    * batch, plus first assignments for unseen endpoints.  This is the
    * write shape for a log-structured assignment table: per batch,
    * append O(|changed|) delta rows instead of rewriting all O(N)
    * assignments, and let readers resolve latest-per-node (see
    * [[resolveAssignments]]); periodic compaction (resolve + rewrite
    * as a new base) bounds the read amplification, the same
    * LSM/changelog pattern as [[graft.sources.TxLog]]'s marker
    * compaction.  Per-batch cost: two streaming scans of the prior
    * table (endpoint-root lookup and changed-member selection, each
    * probing a broadcast hash — see [[contractBatch]]) — no shuffle
    * of the assignment table, no O(N) write.
    *
    * `prior ⊕ delta` (latest-per-node) equals
    * [[incrementalComponents]]`(prior, batch)` row-for-row — pinned
    * by ComponentsSpec and, end-to-end against the one-shot closure
    * oracle, by gate q90. */
  def incrementalComponentsDelta(prior: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String, nodeCol: String, maxIter: Int = 50,
      checkpointDir: Option[String] = None,
      maxDriverCloseEdges: Int = DefaultMaxDriverCloseEdges): DataFrame = {
    val pri = prior.select(col(nodeCol).as("n"), col("component").as("c"))
    val (changed, newNodes) = contractBatch(pri, newEdges, srcCol, dstCol,
      maxIter, checkpointDir, maxDriverCloseEdges)
    // prior members of merged components: inner join keeps only them
    val remapped = pri.join(broadcast(changed), Seq("c"), "inner")
      .select(col("n"), col("c2").as("c"))
    // unseen endpoints: first assignment (their own root, remapped if
    // their singleton merged into something this same batch)
    val newAssigned = newNodes
      .join(broadcast(changed), Seq("c"), "left")
      .select(col("n"), coalesce(col("c2"), col("c")).as("c"))
    remapped.union(newAssigned)
      .select(col("n").as(nodeCol), col("c").as("component"))
  }

  /** Incrementally maintain the per-cluster SURVIVOR table across a
    * batch — the third leg of the incremental dedup lifecycle (pairs:
    * [[graft.ext.Dedup.lshPairsAgainstIndex]]; closure:
    * [[incrementalComponentsDelta]]; survivors: here).  Only
    * components the batch touched are re-picked; everything else
    * carries forward untouched, so per-batch cost is O(members of
    * touched components), never O(clusters) or O(corpus).
    *
    *  - `priorSurvivors`: ("component", "survivor_id", "n_members") —
    *    this method's own output (or a one-shot bootstrap pick).
    *  - `assignments`: the RESOLVED full assignment AFTER applying
    *    the batch's delta (`nodeCol`, "component").
    *  - `delta`: [[incrementalComponentsDelta]]'s output for the
    *    batch (`nodeCol`, "component").
    *  - `scores`: (`nodeCol`, `scoreCol`) covering at least every
    *    member of a touched component; a missing score fails loudly
    *    (a silent drop would elect the wrong survivor).
    *
    * Update rule: components named in the delta are recomputed from
    * their FULL member set (one broadcast-probe stream of the
    * assignment table + one max_by hash agg — q91's pick shape);
    * prior rows for those components, and for root labels the batch
    * remapped AWAY (a root r moved ⟺ delta contains (r, c≠r), and r
    * can only have labeled its own component), are dropped.
    * Components never split (merging only adds members), and scores
    * are deterministic, so untouched rows are exactly right carried
    * forward — after every batch the table equals the one-shot pick
    * over the current assignment (ComponentsSpec pins this per batch;
    * gate q100 pins it end-to-end against the DuckDB closure
    * oracle).  The (score desc, id asc) tie-break negates the id, so
    * node ids must be numeric here (unlike the closure methods,
    * which only need an ordering). */
  def incrementalSurvivors(priorSurvivors: DataFrame, assignments: DataFrame,
      delta: DataFrame, scores: DataFrame, nodeCol: String,
      scoreCol: String): DataFrame = {
    val d = delta.select(col(nodeCol).as("n"), col("component").as("c"))
    val touched = d.select(col("c").as("component")).distinct()
    val dead = d.where(col("n") =!= col("c"))
      .select(col("n").as("component")).distinct()
    val kept = priorSurvivors
      .select(col("component"), col("survivor_id"), col("n_members"))
      .join(broadcast(touched), Seq("component"), "left_anti")
      .join(broadcast(dead), Seq("component"), "left_anti")
    kept.union(repickTouched(assignments, touched, scores, nodeCol, scoreCol))
  }

  /** Re-pick survivors for the `touched` component set from their
    * FULL member lists: one broadcast-probe stream of the assignment
    * table + one max_by hash agg (q91's pick shape).  Shared core of
    * [[incrementalSurvivors]] (in-memory table form) and
    * [[survivorDelta]] (append-only log form) so the pick rule can
    * never drift between them. */
  private[ext] def repickTouched(assignments: DataFrame, touched: DataFrame,
      scores: DataFrame, nodeCol: String, scoreCol: String): DataFrame =
    assignments
      .select(col(nodeCol), col("component"))
      .join(broadcast(touched), Seq("component"), "inner")
      .join(scores.select(col(nodeCol), col(scoreCol).as("__s")),
        Seq(nodeCol), "left")
      .select(col(nodeCol), col("component"),
        when(col("__s").isNotNull, col("__s")).otherwise(raise_error(concat(
          lit("incrementalSurvivors: no score for touched member "),
          col(nodeCol).cast("string")))).as("__s"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        max_by(col(nodeCol), struct(col("__s"), -col(nodeCol)))
          .as("survivor_id"))
      .select(col("component"), col("survivor_id"), col("n_members"))

  /** The DELTA form of [[incrementalSurvivors]], the write shape for
    * an append-only survivor log: per batch, emit ONLY the re-picked
    * rows for touched components plus TOMBSTONES (survivor_id null,
    * n_members 0) for components the batch absorbed away — O(touched)
    * rows appended, never a rewrite of the survivor table.  Readers
    * resolve latest-per-component and drop tombstones
    * ([[resolveSurvivors]]); compaction = write the resolved frame as
    * a new base batch, [[resolveAssignments]]'s pattern.
    *
    * Inputs match [[incrementalSurvivors]] minus the prior table
    * (the log IS the prior): `assignments` resolved AFTER the batch's
    * delta, `delta` the batch's changed rows, `scores` covering every
    * member of a touched component (missing scores fail loudly).
    * `priorComponents` is the survivor log's "component" column (any
    * frame containing every label the log has ever picked; duplicates
    * fine) — it gates tombstones to labels that actually EXIST in the
    * log.  Without the gate every moved non-root member would also
    * emit a tombstone for a component that never existed (a node can
    * only have labeled its own component, and only if it was a root):
    * correctness would survive (readers drop null-survivor rows and a
    * non-min id never labels anything), but a large merge would
    * append ~|members| junk rows for one real re-pick, breaking the
    * documented O(touched) append bound. */
  def survivorDelta(assignments: DataFrame, delta: DataFrame,
      scores: DataFrame, nodeCol: String, scoreCol: String,
      priorComponents: DataFrame): DataFrame = {
    val d = delta.select(col(nodeCol).as("n"), col("component").as("c"))
    val touched = d.select(col("c").as("component")).distinct()
    // an absorbed root r shows up as delta row (r, c≠r); r can only
    // ever have labeled its own component, so that component is dead
    // — IF the log ever picked it (the priorComponents semi-join
    // streams the log column past the broadcast moved set; the result
    // is ≤ |moved| rows, so the closing distinct is tiny).  (Touched
    // wins if an id is somehow both — a live component is re-picked,
    // not tombstoned.)
    val moved = d.where(col("n") =!= col("c"))
      .select(col("n").as("component")).distinct()
    val dead = priorComponents.select(col("component"))
      .join(broadcast(moved), Seq("component"), "left_semi")
      .distinct()
      .join(touched, Seq("component"), "left_anti")
    val idType = assignments.schema(assignments.schema.fieldIndex(nodeCol)).dataType
    repickTouched(assignments, touched, scores, nodeCol, scoreCol)
      .unionByName(dead.select(col("component"),
        lit(null).cast(idType).as("survivor_id"), lit(0L).as("n_members")))
  }

  /** Latest-per-component resolution over a survivor log written by
    * [[survivorDelta]] (+ an optional bootstrap batch): max_by batch,
    * tombstones dropped.  One hash shuffle on the component id. */
  def resolveSurvivors(history: DataFrame, batchCol: String): DataFrame =
    history.groupBy(col("component"))
      .agg(max_by(struct(col("survivor_id"), col("n_members")),
        col(batchCol)).as("__r"))
      .select(col("component"), col("__r.survivor_id").as("survivor_id"),
        col("__r.n_members").as("n_members"))
      .where(col("survivor_id").isNotNull)

  /** Per-batch corpus-gate EMISSION — the delta a training job
    * actually consumes: which docs the batch ADMITS into the gated
    * corpus and which previously-admitted docs it EVICTS (they just
    * lost their cluster to a better arrival).  One row per decided
    * doc: (`nodeCol`, kept: boolean), to be batch-stamped and
    * appended to an emission log; [[resolveEvicted]] is the read
    * side.
    *
    * The decision set is exactly (members of batch-touched
    * components) ∪ (batch docs) — the only docs whose kept-status
    * can change: untouched components keep their survivor, and an
    * unpaired arrival is always admitted.  A batch doc that paired
    * got an assignment row this batch, so it IS a touched member;
    * the anti-join therefore only has to subtract the (bounded)
    * touched-member id set from the (bounded) batch id set.  kept ⟺
    * the doc is its component's re-picked survivor (from the batch's
    * survivor-delta rows — tombstoned components have no members, so
    * dropping them loses nothing) or was never paired at all.
    *
    * Scale shape: the assignment table streams past a broadcast of
    * the touched set (never shuffles); every other frame is
    * O(touched members + |batch|).  Emission rows per batch are
    * O(touched docs), never O(corpus) — ShuffleBytesSpec pins the
    * ceiling.
    *
    *  - `assignments`: resolved full assignment AFTER the batch.
    *  - `delta`: the batch's changed assignment rows.
    *  - `survivorBatch`: the batch's [[survivorDelta]] rows
    *    (re-picks + tombstones; "component", "survivor_id").
    *  - `batchIds`: the batch's arriving doc ids (`nodeCol`). */
  def emissionDelta(assignments: DataFrame, delta: DataFrame,
      survivorBatch: DataFrame, batchIds: DataFrame,
      nodeCol: String): DataFrame = {
    val touched = delta.select(col("component")).distinct()
    val members = assignments.select(col(nodeCol), col("component"))
      .join(broadcast(touched), Seq("component"), "left_semi")
    val repicks = survivorBatch.where(col("survivor_id").isNotNull)
      .select(col("component"), col("survivor_id"))
    val touchedKept = members
      .join(broadcast(repicks), Seq("component"), "inner")
      .select(col(nodeCol), (col(nodeCol) === col("survivor_id")).as("kept"))
    val unpaired = batchIds.select(col(nodeCol))
      .join(broadcast(members.select(col(nodeCol))), Seq(nodeCol), "left_anti")
      .select(col(nodeCol), lit(true).as("kept"))
    touchedKept.unionByName(unpaired)
  }

  /** Read side of the emission log: docs whose LATEST emission row
    * says kept=false — the loser set, bounded by removed duplicates
    * (≪ corpus at any real dedup rate), which is what makes it the
    * BROADCASTABLE side of the corpus filter (q92's anti-join shape:
    * `corpus LEFT ANTI evicted`; a doc with no emission row — or a
    * kept=true latest — passes).  One hash shuffle keyed on the doc
    * id over the emission log, whose size is the accumulated churn,
    * never the corpus. */
  def resolveEvicted(history: DataFrame, nodeCol: String,
      batchCol: String): DataFrame =
    history.groupBy(col(nodeCol))
      .agg(max_by(col("kept"), col(batchCol)).as("kept"))
      .where(!col("kept"))
      .select(col(nodeCol))

  /** Latest-per-node resolution over a log of assignment rows
    * (`nodeCol`, "component", `batchCol`): the read side of the
    * delta-log pattern ([[incrementalComponentsDelta]]).  One
    * hash-shuffle on the node id — `max_by` keeps the row from the
    * highest batch.  Compaction = write the resolved frame as a new
    * base batch and drop the folded deltas (with
    * [[graft.sources.TxLog]] as the log, that is exactly
    * `TxLog.compact`'s fold). */
  def resolveAssignments(history: DataFrame, nodeCol: String,
      batchCol: String): DataFrame =
    history.groupBy(col(nodeCol))
      .agg(max_by(col("component"), col(batchCol)).as("component"))

  /** Structural convergence test: a canonical edge set (oriented
    * u > v, distinct, no self-loops) is a star forest iff every
    * larger-endpoint u has out-degree exactly 1 AND never itself
    * appears as a smaller endpoint (a root).  One union + one hash
    * aggregation + a limit-1 emptiness probe — a single Spark job
    * shuffling ≤ 2|E| (u, flag) pairs, no join, no set difference. */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("u"), lit(1L).as("outd"), lit(0L).as("isv"))
      .union(e.select(col("v").as("u"), lit(0L).as("outd"), lit(1L).as("isv")))
      .groupBy("u")
      .agg(sum(col("outd")).as("outd"), max(col("isv")).as("isv"))
      .where(col("outd") > 1 || (col("outd") === 1 && col("isv") === 1))
      .isEmpty

  /** Drop self-loops, orient (larger, smaller), dedupe. */
  private def canon(e: DataFrame): DataFrame =
    e.where(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()

  /** For each node u: connect every STRICTLY LARGER neighbor to the
    * minimum of Γ(u) ∪ {u}.  Works on the symmetric neighbor view. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** For each node u (edges oriented larger→smaller): connect every
    * smaller neighbor AND u itself to the minimum of Γ⁻(u) ∪ {u}. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = canon(e)
    val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
    val neighborEdges = dir.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
    val selfEdges = mins.select(col("u"), col("m").as("v"))
    neighborEdges.union(selfEdges)
      .where(col("u") =!= col("v"))
      .distinct()
  }
}
