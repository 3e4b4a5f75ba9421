package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.indel_ratio

/** The reference's deterministic entity-normalization rules (the
  * "10-step" pipeline, scraper.py:721-884 / CLAUDE.md:128-141) as pure
  * DataFrame snapshot transformations — no in-place mutation; every
  * stage maps an (entities, edges) snapshot to a new one (SURVEY.md
  * §2.6 M-1…M-7).
  *
  * Entities schema: (id LONG, name STRING, displayName STRING,
  *   label STRING, definition STRING, aliases ARRAY<STRING>,
  *   sourceSpans ARRAY<STRING>).
  * Edges schema: (src LONG, dst LONG, relType STRING).
  *
  * Documented divergences from the reference (SURVEY.md §7 hard parts):
  * the reference's "first node wins" uses Neo4j elementId insertion
  * order (normalizer.py:256-265); our winner is min stable vertex id.
  * Fuzzy ties over Python sets are iteration-order dependent there; we
  * break ties deterministically (best score, then first taxonomy key /
  * lexicographic term order).
  */
object Normalize {

  /** One graph state of the chain. `edges` is a set: no two rows share
    * (src, dst, relType). [[graft.extract.Extractor.relationships]]
    * emits it deduplicated, and every stage after it either leaves
    * edges untouched, only deletes them, or re-applies set semantics
    * (`remapEdges`) — [[backfillAppliesTo]] relies on it.
    */
  final case class Snapshot(entities: DataFrame, edges: DataFrame)

  // ───────────────────────────── helpers ─────────────────────────────

  /** Remap edge endpoints through a (id → canonId) mapping and re-apply
    * MERGE set-semantics (M-10). Mapping rows exist only for ids that
    * move, so both joins are left joins with coalesce.
    */
  private def remapEdges(edges: DataFrame, mapping: DataFrame): DataFrame = {
    val mSrc = mapping.withColumnRenamed("id", "src").withColumnRenamed("canonId", "srcCanon")
    val mDst = mapping.withColumnRenamed("id", "dst").withColumnRenamed("canonId", "dstCanon")
    edges
      .join(mSrc, Seq("src"), "left")
      .join(mDst, Seq("dst"), "left")
      .select(
        coalesce(col("srcCanon"), col("src")).as("src"),
        coalesce(col("dstCanon"), col("dst")).as("dst"),
        col("relType"))
      .dropDuplicates("src", "dst", "relType")
  }

  /** Drop entities by id and all their incident edges (DETACH DELETE). */
  private def detachDelete(s: Snapshot, ids: DataFrame): Snapshot = {
    val doomed = ids.select(col("id")).distinct()
    Snapshot(
      s.entities.join(doomed, Seq("id"), "left_anti"),
      s.edges
        .join(doomed.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(doomed.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti"))
  }

  private val entityCols = Seq("id", "name", "displayName", "label",
    "definition", "aliases", "sourceSpans").map(col)

  /** M-8 list set-union (apoc.coll.toSet semantics, normalizer.py:544-550)
    * with a deterministic size cap — see Extractor.MaxListProp.
    */
  private def cappedUnion(c: Column): Column =
    slice(array_sort(array_distinct(flatten(collect_list(c)))), 1,
      graft.extract.Extractor.MaxListProp)

  // ───────────────────────── M-1: name normalization ─────────────────

  /** Lowercase + trim + collapse whitespace + strip edge punctuation;
    * preserve the original surface form in displayName on first change
    * (normalizer.py:20-53, 161-185). `(?U)` matches Python's
    * unicode-aware `\w`.
    */
  def normalizedName(name: Column): Column =
    regexp_replace(
      regexp_replace(lower(trim(name)), "\\s+", " "),
      "(?U)^[^\\w]+|[^\\w]+$", "")

  /** Description-fragment parsing (entity_summarizer.py:204-228): try a
    * JSON string-array parse (trim items, drop empties); if the value is
    * not a JSON array, split on ' | '; else a singleton of the raw text.
    * `from_json` with ArrayType returns null both for invalid JSON and
    * for valid-but-non-array JSON — exactly the reference's "return only
    * if isinstance(parsed, list)" fall-through.
    */
  def parseFragments(desc: Column): Column = {
    val arr = from_json(desc,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    when(arr.isNotNull,
      filter(transform(arr, f => trim(f)), f => f.isNotNull && f =!= ""))
      .when(desc.contains(" | "),
        filter(transform(split(desc, " \\| "), f => trim(f)), f => f =!= ""))
      .otherwise(array(desc))
  }

  def m1NormalizeNames(s: Snapshot): Snapshot = {
    val e = s.entities
      .withColumn("newName", normalizedName(col("name")))
      .withColumn("displayName",
        when(col("displayName").isNull && col("name") =!= col("newName"), col("name"))
          .otherwise(col("displayName")))
      .withColumn("name", col("newName"))
      .drop("newName")
    Snapshot(e, s.edges)
  }

  // ─────────────────── M-2: same-label dedup merge ────────────────────

  /** Merge rows with identical (label, name): min-id row is primary;
    * scalar props keep the first non-null in id order; list props are
    * set-unioned; in/out edges transfer to the primary
    * (normalizer.py:207-323).
    */
  def m2SameLabelDedup(s: Snapshot): Snapshot = {
    // one shuffle: the window computes the canonical id + group size per
    // (label,name) group in place, and the groupBy right after reuses
    // the same hash partitioning — no second exchange, no
    // entities⋈merged join. Singleton groups (the vast majority) bypass
    // the aggregation entirely: their rows are already canonical, and
    // re-sorting every untouched (≤1000-element) span array through
    // cappedUnion was the stage's dominant CPU cost.
    //
    // Measured alternative (r4): a dup-proportional form — map-side-
    // combined (label,name,minId) agg → broadcast the duplicated keys →
    // anti/inner join so only dup-group members re-shuffle — was built
    // and A/B-profiled at sf0.1: 3.8 s (window) vs 4.5 s, because the
    // upstream snapshot is a local checkpoint whose wide array rows
    // make THREE rescans cost more than ONE in-memory shuffle. On a
    // disaggregated cluster where rescans hit remote storage the
    // trade-off flips only if the dedup input is not already cached;
    // fullChain checkpoints every stage boundary, so the window form
    // is the right default at both scales.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"), col("name"))
    // r6: the tagged frame feeds THREE consumers (singles, merged,
    // mapping) and Spark does NOT reuse the window's exchange across
    // them (the pruned subtrees differ by projection, so the canonical
    // forms never match — same failure mode as the KnnGraph r5 fix):
    // the executed plan ran the exchange+sort+window over the wide
    // array-carrying entity rows once per consumer. One lazy
    // checkpoint makes it one pass; the consumers scan the stored
    // rows. (The bench frees pinned blocks per entry; fullChain
    // already creates per-stage checkpoints, so this adds nothing new
    // in lifecycle terms.)
    val tagged = s.entities
      .withColumn("canonId", min(col("id")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .localCheckpoint(false)

    val singles = tagged.filter(col("cnt") === 1).select(entityCols: _*)
    val merged = tagged.filter(col("cnt") > 1)
      .groupBy(col("label"), col("name"))
      .agg(
        min(col("id")).as("id"),
        min_by(col("displayName"), when(col("displayName").isNotNull, col("id"))).as("displayName"),
        min_by(col("definition"), when(col("definition").isNotNull, col("id"))).as("definition"),
        cappedUnion(col("aliases")).as("aliases"),
        cappedUnion(col("sourceSpans")).as("sourceSpans"))
      .select(entityCols: _*)

    val mapping = tagged.filter(col("id") =!= col("canonId")).select("id", "canonId")

    Snapshot(singles.unionByName(merged), remapEdges(s.edges, mapping))
  }

  // ─────────────────── M-3: cross-label dedup merge ───────────────────

  /** Merge same-name rows across labels. Winner label by LABEL_PRIORITY;
    * primary = min id among rows bearing the winning label; list props
    * unioned; longest definition wins (normalizer.py:354-577).
    * Run after M-2 so (label, name) is unique per row.
    */
  def m3CrossLabelDedup(s: Snapshot): Snapshot = {
    val prio = typedLit(Vocab.LabelPriority)
    // array_position = 0 when absent; reference skips unknown labels
    // (all 12 entity labels are ranked, so 99 is unreachable in practice)
    val rank = when(array_position(prio, col("label")) === 0, lit(99L))
      .otherwise(array_position(prio, col("label")))

    // single shuffle on name: group size and the winning (rank, id) come
    // from window functions; the groupBy below reuses the partitioning
    // (the dup-proportional alternative lost the r4 A/B — see M-2)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("name"))
    val tagged = s.entities.withColumn("rank", rank)
      .withColumn("cnt", count(lit(1)).over(w))
      // min struct(rank, id) = (winner rank, min id among rows bearing
      // the winning label) — rank is label-determined, so the id is the
      // primary: "first node bearing the winning label"
      .withColumn("canon", min(struct(col("rank"), col("id"))).over(w))
      .withColumn("canonId", col("canon").getField("id"))
      // r6: same triple-consumer exchange duplication as M-2 — one
      // lazy checkpoint, one window pass (see m2SameLabelDedup)
      .localCheckpoint(false)

    val groups = tagged.filter(col("cnt") > 1)
    val mergedGroups = groups
      .groupBy(col("name"))
      .agg(
        min_by(col("id"), struct(col("rank"), col("id"))).as("id"),
        min_by(col("label"), struct(col("rank"), col("id"))).as("label"),
        min_by(col("displayName"),
          when(col("displayName").isNotNull, struct(col("rank"), col("id")))).as("displayName"),
        max_by(col("definition"),
          when(col("definition").isNotNull,
            struct(length(col("definition")), -col("rank"), -col("id")))).as("definition"),
        cappedUnion(col("aliases")).as("aliases"),
        cappedUnion(col("sourceSpans")).as("sourceSpans"))
      .select(entityCols: _*)

    val untouched = tagged.filter(col("cnt") === 1).select(entityCols: _*)

    val mapping = groups.filter(col("id") =!= col("canonId")).select("id", "canonId")

    Snapshot(untouched.unionByName(mergedGroups), remapEdges(s.edges, mapping))
  }

  // ──────────────────── M-4: generic-entity delete ────────────────────

  /** DETACH DELETE entities whose lower(name) is in the ~110-term
    * generic list (entity_cleanup.py:43-144, 530-554).
    */
  def m4DeleteGeneric(s: Snapshot): Snapshot = {
    val doomed = s.entities
      .filter(lower(col("name")).isin(Vocab.GenericTermsToDelete.toSeq: _*))
      .select("id")
    detachDelete(s, doomed)
  }

  // ──────────────────── M-5: plural→singular merge ────────────────────

  /** Dynamic pairs plural.name = singular.name + 's' with equal label
    * (entity_cleanup.py:556-670, J-2): transfer edges to the singular,
    * drop the plural row. Single pass, like the reference.
    */
  def m5MergePlurals(s: Snapshot): Snapshot = {
    // NOTE: merge chains ("aass"→"aas"→"aa") cannot exist — a singular
    // must NOT end with 's' (entity_cleanup.py:571), so a mapping
    // target can never itself be a mapped plural; the remap is
    // single-level by construction and never dangles.
    val singular = s.entities
      .filter(col("name").isNotNull && !col("name").endsWith("s"))
      .select(col("id").as("canonId"), concat(col("name"), lit("s")).as("pluralName"),
        col("label"))
    val pairs = s.entities.select(col("id"), col("name").as("pluralName"), col("label"))
      .join(singular, Seq("pluralName", "label"))
      .select("id", "canonId")

    val entities = s.entities.join(pairs.select("id"), Seq("id"), "left_anti")
    Snapshot(entities, remapEdges(s.edges, pairs))
  }

  // ──────────────── M-6: industry taxonomy consolidation ──────────────

  /** classify_industry_term (industry_taxonomy.py:246-320) for every
    * Industry row: exact/fuzzy(≥80) taxonomy → rename canonical;
    * concepts (exact or fuzzy ≥75) → relabel Concept; organizations →
    * relabel Organization; generic (exact or fuzzy ≥75) → delete; else
    * keep unknown. Fuzzy = indel_ratio with best-score,
    * first-taxonomy-key tie-break, matching rapidfuzz process.extractOne
    * over the (insertion-ordered) taxonomy dict. After applying actions,
    * a same-label dedup merges rows that now collide (merge-if-exists,
    * industry_taxonomy.py:558-654).
    */
  def m6IndustryConsolidation(s: Snapshot): Snapshot = {
    val spark = s.entities.sparkSession
    import spark.implicits._

    val industries = s.entities.filter(col("label") === "Industry")
    val others = s.entities.filter(col("label") =!= "Industry")

    val tax = Vocab.IndustryTaxonomy.zipWithIndex
      .map { case ((v, c), i) => (v, c, i) }
      .toDF("variant", "canonical", "ord")
    val concepts = Vocab.ConceptsNotIndustries.toSeq.sorted.toDF("term")
    val generics = Vocab.IndustryGenericToDelete.toSeq.sorted.toDF("term")

    // best fuzzy matches against ALL three vocabularies in ONE broadcast
    // NL join + one aggregation (was three crossJoin/groupBy passes over
    // the Industry rows — same scores, conditional aggs per vocab kind)
    val vocabAll =
      tax.select(col("variant"), col("canonical"), col("ord"), lit("tax").as("kind"))
        .unionByName(concepts.select(col("term").as("variant"),
          lit(null).cast("string").as("canonical"), lit(0).as("ord"),
          lit("concept").as("kind")))
        .unionByName(generics.select(col("term").as("variant"),
          lit(null).cast("string").as("canonical"), lit(0).as("ord"),
          lit("generic").as("kind")))

    // Length-band prune before the quadratic scorer: indel distance is
    // at least |l1 − l2|, so the ratio is bounded by
    // 200·min(l1,l2)/(l1+l2). Pairs below the lowest threshold any
    // branch uses (75) can never classify and are dropped inside the
    // same codegen stage, before indel_ratio runs — the argmax over
    // the survivors is unchanged whenever any branch fires, because
    // every pair scoring ≥ 75 survives the prune.
    //
    // Measure caveat (ADVICE r4): Spark length() counts code points
    // (c1 for the name, c2 for the vocab term) while indel_ratio
    // scores UTF-16 code units (u1, u2). Given an ASCII vocab
    // (asserted below, so u2 = c2), the code-point bound still
    // dominates the true score: a name with e astral chars has
    // u1 = c1 + e, its 2e surrogate units can never match an ASCII
    // unit, so LCS ≤ min(u1 − 2e, u2) = min(c1 − e, c2) ≤ min(c1,c2)
    // while u1 + u2 ≥ c1 + c2 — hence
    // ratio = 200·LCS/(u1+u2) ≤ 200·min(c1,c2)/(c1+c2), and no pair
    // scoring ≥ 75 is ever pruned, astral input or not.
    require(Vocab.IndustryTaxonomy.forall(_._1.forall(_ < 128)) &&
      Vocab.ConceptsNotIndustries.forall(_.forall(_ < 128)) &&
      Vocab.IndustryGenericToDelete.forall(_.forall(_ < 128)),
      "length-band prune assumes an ASCII fuzzy vocab")
    val best = industries.select(col("id"), lower(col("name")).as("n"))
      .crossJoin(broadcast(vocabAll))
      .filter(lit(200) * least(length(col("n")), length(col("variant"))) >=
        lit(75) * (length(col("n")) + length(col("variant"))))
      .withColumn("score", indel_ratio(col("n"), col("variant")))
      .groupBy(col("id"))
      .agg(
        max(when(col("kind") === "tax", col("score"))).as("taxScore"),
        max_by(col("canonical"),
          when(col("kind") === "tax", struct(col("score"), -col("ord"))))
          .as("taxCanonical"),
        max(when(col("kind") === "concept", col("score"))).as("conceptScore"),
        max(when(col("kind") === "generic", col("score"))).as("genericScore"))

    val exactTax = broadcast(tax.select(col("variant"), col("canonical").as("exactCanonical")))

    val lowered = lower(col("name"))
    val classified = industries
      .join(exactTax, lowered === col("variant"), "left")
      .join(best, Seq("id"), "left")
      .withColumn("action",
        when(lowered.isin(Vocab.OrganizationsNotIndustries.toSeq: _*), "reclassify_org")
          .when(lowered.isin(Vocab.ConceptsNotIndustries.toSeq: _*), "reclassify")
          .when(lowered.isin(Vocab.IndustryGenericToDelete.toSeq: _*), "delete")
          .when(col("exactCanonical").isNotNull, "keep_exact")
          .when(col("taxScore") >= 80, "keep_fuzzy")
          .when(col("conceptScore") >= 75, "reclassify")
          .when(col("genericScore") >= 75, "delete")
          .otherwise("unknown"))

    val doomed = classified.filter(col("action") === "delete").select("id")

    val surviving = classified.filter(col("action") =!= "delete")
      .withColumn("label",
        when(col("action") === "reclassify", "Concept")
          .when(col("action") === "reclassify_org", "Organization")
          .otherwise(col("label")))
      .withColumn("name",
        when(col("action") === "keep_exact", col("exactCanonical"))
          .when(col("action") === "keep_fuzzy", col("taxCanonical"))
          .otherwise(col("name")))
      .select(entityCols: _*)

    val afterDelete = detachDelete(Snapshot(others.unionByName(surviving), s.edges), doomed)
    // merge-if-exists: renamed/relabeled rows that now collide with an
    // existing (label, name) merge into it
    m2SameLabelDedup(afterDelete)
  }

  // ──────────────── M-7: relabel mislabeled Challenges ────────────────

  /** Challenge rows whose FIRST word is a positive-outcome word become
    * Concept, unless a Concept with the same name already exists
    * (validation/fixes.py:233-315; first-word semantics per
    * entity_cleanup.py:275-293).
    */
  def m7RelabelMislabeledChallenges(s: Snapshot): Snapshot = {
    val firstWord = element_at(split(lower(trim(col("name"))), " "), 1)
    val conceptNames = s.entities.filter(col("label") === "Concept")
      .select(col("name")).distinct().withColumn("conceptExists", lit(true))

    val e = s.entities
      .join(conceptNames, Seq("name"), "left")
      .withColumn("label",
        when(col("label") === "Challenge" &&
          firstWord.isin(Vocab.PositiveOutcomeWords.toSeq: _*) &&
          col("conceptExists").isNull, "Concept")
          .otherwise(col("label")))
      .select(entityCols: _*)
    Snapshot(e, s.edges)
  }

  // ──────────── Backfill: Standard→Industry APPLIES_TO (J-11) ─────────

  /** MERGE the 21 well-known (Standard, Industry) APPLIES_TO pairs for
    * standards present in the graph, creating missing Industry nodes
    * (mentioned_in_backfill.py:106-135).
    *
    * Precondition: `s.edges` holds no duplicate (src, dst, relType) —
    * the [[Snapshot]] set contract, which the chain's input (extractor
    * output through M-1) meets by construction (tested in
    * PipelineSpec). Only the ≤ 21 new rows get set semantics here; a
    * duplicate already in `s.edges` would pass through unchanged.
    * Checking it at run time would cost a full-edge-table job.
    */
  def backfillAppliesTo(s: Snapshot): Snapshot = {
    val spark = s.entities.sparkSession
    import spark.implicits._
    val pairs = broadcast(Vocab.StandardIndustryMap.toDF("stdName", "indName"))

    val present = s.entities.filter(col("label") === "Standard")
      .select(col("id").as("src"), col("name").as("stdName"))
      .join(pairs, Seq("stdName"))
      .select(col("src"), col("indName"),
        xxhash64(col("indName"), lit("Industry")).as("dst"))

    val newIndustries = present.select(col("indName")).distinct()
      .join(s.entities.filter(col("label") === "Industry").select(col("name").as("indName")),
        Seq("indName"), "left_anti")
      .select(
        xxhash64(col("indName"), lit("Industry")).as("id"),
        col("indName").as("name"),
        lit(null).cast("string").as("displayName"),
        lit("Industry").as("label"),
        lit(null).cast("string").as("definition"),
        array().cast("array<string>").as("aliases"),
        array().cast("array<string>").as("sourceSpans"))

    // existing Industry rows may carry a different id for the same name
    // (extraction grain is (name, label) at RAW form; post-M-1 names are
    // normalized, so hash on the normalized name matches only fresh
    // nodes) — remap dst onto the surviving industry id by name
    val indIds = s.entities.filter(col("label") === "Industry")
      .select(col("name").as("indName"), col("id").as("realDst"))
    val newEdges = present
      .join(indIds, Seq("indName"), "left")
      .select(col("src"), coalesce(col("realDst"), col("dst")).as("dst"),
        lit("APPLIES_TO").as("relType"))

    // MERGE set-semantics without re-shuffling the whole edge table:
    // `s.edges` is already a set (see the precondition above), so only
    // the new rows need it — dedupe the tiny new set, drop the ones
    // already present via a broadcast-build semi join (the big side
    // streams, zero exchange), and append what is genuinely new.
    val newDistinct = newEdges.dropDuplicates("src", "dst", "relType")
    val alreadyThere = s.edges.join(broadcast(newDistinct),
      Seq("src", "dst", "relType"), "left_semi")
    val freshEdges = newDistinct.join(broadcast(alreadyThere),
      Seq("src", "dst", "relType"), "left_anti")
    Snapshot(
      s.entities.unionByName(newIndustries),
      s.edges.unionByName(freshEdges))
  }

  /** Materialize a stage boundary. Every stage references its input
    * snapshot several times (merged + mapping + anti-join sides), so an
    * unmaterialized 8-stage chain builds an exponentially-sized plan
    * tree; truncating lineage per stage keeps optimization O(stages)
    * and matches the reference's sequential snapshot semantics. At
    * cluster scale this is where the per-stage Iceberg snapshot commit
    * goes (SURVEY.md §7 "each stage snapshot-checkpointed").
    */
  def materialize(s: Snapshot): Snapshot =
    Snapshot(s.entities.localCheckpoint(true), s.edges.localCheckpoint(true))

  /** Checkpoint only the frames a stage actually changed (M-1/M-7
    * leave edges untouched; re-checkpointing them would re-run a full
    * pass for nothing). Checkpoints are LAZY: `localCheckpoint(false)`
    * truncates the Catalyst plan immediately (so the 8-stage chain
    * still optimizes in O(stages)) but defers materialization to the
    * next stage's first shuffle — the r2 chain ran ~14 eager
    * materialization jobs, one per changed frame per stage, and that
    * job count WAS the driver-bench gap on `pipeline_normalize`
    * (VERDICT r2 #2).
    */
  private def checkpointChanged(prev: Snapshot, next: Snapshot): Snapshot =
    Snapshot(
      if (next.entities eq prev.entities) prev.entities
      else next.entities.localCheckpoint(false),
      if (next.edges eq prev.edges) prev.edges
      else next.edges.localCheckpoint(false))

  /** The full Phase A/B chain in reference order (scraper.py:742-833):
    * backfill → M-1 → M-2 → M-3 → M-4 → M-5 → M-6, plus the M-7
    * validation fix.
    *
    * Stage boundaries are lazily checkpointed; two stages are FUSED
    * (no boundary at all): M-1 is a pure projection that rides into
    * backfill/M-2's shuffle, and M-4's anti-join (doomed side is a
    * broadcast-sized term-list filter) rides into M-5's pass. At
    * cluster scale the non-fused boundaries are where the per-stage
    * Iceberg snapshot commits go (SURVEY.md §7).
    */
  def fullChain(s0: Snapshot): Snapshot = {
    val stages: Seq[(Snapshot => Snapshot, Boolean)] = Seq(
      (m1NormalizeNames, true), (backfillAppliesTo, false),
      (m2SameLabelDedup, false), (m3CrossLabelDedup, false),
      (m4DeleteGeneric, true), (m5MergePlurals, false),
      (m6IndustryConsolidation, false), (m7RelabelMislabeledChallenges, false))
    stages.foldLeft(materialize(s0)) { case (s, (f, fuse)) =>
      if (fuse) f(s) else checkpointChanged(s, f(s))
    }
  }
}
