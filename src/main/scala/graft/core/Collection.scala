package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import graft.filter.Pred

/** Parquet-backed vector collection + catalog — the reference's
  * Collection/VectorDB storage layer (jcolano/fastpyvectordb
  * `vectordb_optimized.py:207-818`) re-expressed as table management:
  *
  *   <root>/<name>/config.json      — {name, dimensions, metric}
  *   <root>/<name>/data/…parquet    — current generation
  *
  * Mutations are whole-relation rewrites (insert = union, upsert =
  * anti-join ∪ new, delete = filter) written to a staging dir and
  * atomically renamed over the old generation — Spark cannot overwrite a
  * path it is lazily reading, and at cluster scale the swap is what a
  * table format (Delta/Iceberg) does under the hood; this is the minimal
  * standalone version of the same idea. The reference's id↔label int maps
  * and five hash indexes disappear: ids are just a column, lookups are
  * pushed-down filters.
  */
final case class CollectionConfig(name: String, dimensions: Int, metric: String) {
  def toJson: String =
    s"""{"name": "$name", "dimensions": $dimensions, "metric": "$metric"}"""
}

object CollectionConfig {
  /** Names are path components and raw JSON string values — restricting
    * them makes toJson/fromJson exact inverses with no escaping layer
    * (a quote or backslash in the name would otherwise write invalid
    * JSON that the regex parser cannot read back). */
  val NameOk = """[A-Za-z0-9_-]+""".r
  /** `none`: no vector distance — text and metadata search only. */
  val Metrics = Seq("cosine", "l2", "ip", "none")
  private val P = """"(\w+)"\s*:\s*("([^"]*)"|\d+)""".r
  def fromJson(s: String): CollectionConfig = {
    val kv = P.findAllMatchIn(s).map { m =>
      m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))
    }.toMap
    CollectionConfig(kv("name"), kv("dimensions").toInt, kv("metric"))
  }
}

final class VectorCollection(
    val spark: SparkSession, val root: String, val config: CollectionConfig) {

  private def fs = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private def dataPath = new Path(s"$root/${config.name}/data")
  private def changelogPath = s"$root/${config.name}/changelog"

  /** A live dir replaced whole by a generation swap: write `staging`,
    * retire `live` to `retired`, promote `staging`, drop `retired`. The
    * previous generation is never deleted before the new one is in
    * place, and [[recover]] restores exactly one of them after a crash
    * at any step. */
  private final class Generations(live: Path, staging: Path, retired: Path) {
    /** If a swap died with no live dir, restore the surviving
      * generation: the retired one when it exists (a swap that had
      * retired the old generation but not promoted the new one rolls
      * back), else the staged one, trusted only when its _SUCCESS
      * marker exists. An unmarked staging dir is a write that died
      * midway (no marker) and is torn down. */
    def recover(): Unit =
      if (!fs.exists(live)) {
        if (fs.exists(retired)) fs.rename(retired, live)
        else if (fs.exists(new Path(staging, "_SUCCESS")))
          fs.rename(staging, live)
        else fs.delete(staging, true)
      }

    /** Replace the live generation with what `write` puts at the staging
      * path. */
    def swap(write: String => Unit): Unit = {
      recover()
      fs.delete(staging, true)
      write(staging.toString)
      fs.delete(retired, true)
      if (fs.exists(live))
        require(fs.rename(live, retired), s"retire failed for $live")
      if (!fs.rename(staging, live)) {
        if (fs.exists(retired)) fs.rename(retired, live) // roll back
        throw new IllegalStateException(s"swap failed for $live")
      }
      fs.delete(retired, true)
      // Spark's FileStatusCache keeps the old listing for this path — a
      // reader created after the swap would still see the previous
      // generation's files (observed: stale search hits after upsert).
      spark.catalog.refreshByPath(live.toString)
    }
  }

  private def dataSwap = new Generations(dataPath,
    new Path(s"$root/${config.name}/data_staging"),
    new Path(s"$root/${config.name}/data_old"))
  private def logSwap = new Generations(new Path(changelogPath),
    new Path(s"$changelogPath.staging"), new Path(s"$changelogPath.old"))

  def df: DataFrame = read(generation)

  /** Fingerprint of the live data generation: it keys the opened data
    * relation and every index path, so a call that needs both computes
    * it once. */
  private def generation: String = {
    dataSwap.recover()
    // a clear contract violation beats the path-not-found the parquet
    // reader would throw (the reference returns [] but a DataFrame needs
    // a schema, which an empty collection doesn't have yet)
    require(fs.exists(dataPath),
      s"collection '${config.name}' is empty — insert rows before reading")
    fingerprint
  }

  private def fingerprint: String =
    graft.index.IndexStore.fingerprint(spark, Seq(dataPath.toString))

  /** The data generation `gen`, opened once per session: every commit
    * writes new files (a new fingerprint) and drops the opened relation. */
  private def read(gen: String): DataFrame =
    graft.index.IndexStore.table(spark, dataPath.toString, gen)

  /** CDC: every mutation appends (collection, event_type, id, ts) rows —
    * the reference's ObservableCollection event emission (realtime.py:
    * 325-442). Consume in batch via [[changelog]] or as a stream via
    * [[changeFeed]] (the file source picks up each appended file as a
    * microbatch).
    */
  private def logEvents(eventType: String, ids: DataFrame): Unit = {
    logSwap.recover()
    ids.select(
        lit(config.name).as("collection"),
        lit(eventType).as("event_type"),
        col("id"),
        current_timestamp().as("ts"))
      .write.mode("append").parquet(changelogPath)
  }

  def changelog: DataFrame = {
    logSwap.recover()
    spark.read.parquet(changelogPath)
  }

  /** Trim the CDC changelog to its most recent `keepLast` events (the
    * reference's bounded history buffer, realtime.py:187-190, at
    * collection-storage granularity). The retained tail goes through the
    * same generation swap as the data; a crash mid-swap is recovered by
    * every changelog reader and by the next trim, so readers always see
    * either the old or the new log, never a truncated one. Returns
    * events dropped.
    * NOTE this rewrites history a changeFeed stream has already
    * consumed — run it between streaming restarts, as the reference
    * does with its replay buffer. */
  def trimChangelog(keepLast: Int): Long = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    logSwap.recover()
    if (!fs.exists(new Path(changelogPath))) return 0L
    val total = changelog.count()
    val drop = total - keepLast
    if (drop <= 0) return 0L
    logSwap.swap(changelog
      .orderBy(col("ts").desc, col("id").desc)
      .limit(keepLast)
      .write.parquet(_))
    drop
  }

  /** Opt-in search-event CDC — the reference's ObservableCollection also
    * emits `search` events alongside the mutation events
    * (realtime.py:58-88, 325-442). Off by default: search is read-only
    * and often high-QPS, so emission is a monitoring concern, not a
    * correctness one. When enabled, every search call appends one
    * (collection, 'search', <kind:k=N>, ts) changelog row, consumable
    * through the same changelog/changeFeed/subscription machinery as
    * the mutation events. */
  @volatile private var searchEventsOn = false
  def enableSearchEvents(on: Boolean = true): Unit = searchEventsOn = on

  private def logSearch(kind: String, k: Int): Unit =
    if (searchEventsOn) {
      import spark.implicits._
      logEvents("search", Seq(s"$kind:k=$k").toDF("id"))
    }

  def changeFeed: DataFrame = {
    logSwap.recover()
    spark.readStream.schema(
      "collection string, event_type string, id string, ts timestamp")
      .parquet(changelogPath)
  }

  def isEmpty: Boolean = { dataSwap.recover(); !fs.exists(dataPath) }

  /** Replace the data generation through the crash-safe swap. */
  private def commit(newDf: DataFrame): Unit = {
    dataSwap.swap(newDf.write.parquet(_))
    graft.index.IndexStore.invalidateState(dataPath.toString)
  }

  /** Batch insert; rejects the whole batch on any duplicate id (the
    * reference's set-intersection check, `vectordb_optimized.py:392-397`).
    *
    * Index maintenance mirrors the reference's per-insert index update
    * (`vectordb_optimized.py:337-365`): a pure insert APPENDS the new
    * rows' bucket entries and moves the index to the new generation's
    * fingerprint — no rebuild. If no ready index exists the advance is a
    * no-op and the next [[searchAnn]] builds lazily.
    */
  def insertBatch(rows: DataFrame): Unit = {
    // One materialization of the caller's plan, reused for the dup check,
    // the commit, every index append, and CDC (localCheckpoint: executor
    // storage, lineage truncated — same pattern as deleteWhere's doomed
    // set). A lazy plan re-evaluated per consumer would let a
    // non-deterministic source (rand/uuid/a re-read of mutable external
    // data) commit one version of the batch and index/log another — the
    // index is then marked ready at the new fingerprint and the wrong
    // stored vectors never self-heal.
    val snap = snapshot(rows)
    if (isEmpty) commit(snap)
    else {
      // the generation being replaced, which keys its index paths
      val prevGen = fingerprint
      val data = read(prevGen)
      val dups = snap.join(data, Seq("id"), "left_semi").count()
      require(dups == 0, s"$dups ids already exist")
      commit(data.unionByName(snap))
      val gen = fingerprint
      // Best-effort: indexes are derived state (advance() already
      // swallows its own failures and leaves the path not-ready, so the
      // next search rebuilds) — a maintenance failure must never make a
      // COMMITTED insert report failure or skip its CDC events. Only
      // indexes that already exist advance; absent ones build lazily.
      annFamily.foreach(f =>
        graft.index.IndexStore.advance(spark, annIndexPath(f, prevGen),
          annIndexPath(f, gen))(f.append(_, snap)))
      if (snap.columns.contains("text"))
        graft.index.IndexStore.advance(spark, textIndexPath(prevGen),
            textIndexPath(gen))(p =>
          graft.index.Bm25Index.append(spark,
            snap.select(col("id").as("doc_id"), col("text")), p))
    }
    logEvents("insert", snap.select("id"))
  }

  /** `rows` materialized once (localCheckpoint), rejecting a batch that
    * repeats an id. */
  private def snapshot(rows: DataFrame): DataFrame = {
    val snap = rows.localCheckpoint()
    val idStats = snap.agg(
      org.apache.spark.sql.functions.count(lit(1)),
      countDistinct(col("id"))).head
    require(idStats.getLong(0) == idStats.getLong(1),
      "duplicate ids within batch")
    snap
  }

  /** Delete-then-insert by id (reference upsert, `:418-423`). Rejects
    * intra-batch duplicate ids: the anti-join∪union below would otherwise
    * append BOTH duplicates and silently break the unique-id invariant
    * (the reference's dict-based upsert cannot express two rows per id).
    */
  def upsert(rows: DataFrame): Unit = {
    // same single-materialization rule as insertBatch: the committed rows
    // and the CDC ids must come from ONE evaluation of the caller's plan
    val snap = snapshot(rows)
    if (isEmpty) commit(snap)
    else commit(df.join(snap.select("id"), Seq("id"), "left_anti")
      .unionByName(snap))
    logEvents("upsert", snap.select("id"))
  }

  /** Delete rows matching the predicate; returns deleted count.
    *
    * The doomed-id set is materialized distributed (localCheckpoint:
    * executor-storage backed, lineage truncated so CDC logging after the
    * generation swap cannot re-read the deleted files) — never collected
    * to the driver, so a delete matching 10⁹ rows stays executor-sized.
    * When nothing matches, the whole-relation rewrite is skipped.
    */
  def deleteWhere(pred: Pred): Long = {
    val doomed = df.filter(coalesce(pred.column, lit(false)))
      .select("id").localCheckpoint()
    val n = doomed.count()
    if (n > 0) {
      commit(df.filter(!coalesce(pred.column, lit(false))))
      logEvents("delete", doomed)
    }
    n
  }

  def deleteIds(ids: Seq[String]): Long = {
    // capture the ids that actually exist BEFORE the rewrite — CDC must
    // not announce deletes for ids that were never in the collection
    val doomed = df.filter(col("id").isin(ids: _*))
      .select("id").localCheckpoint()
    val n = doomed.count()
    if (n > 0) {
      commit(df.filter(!col("id").isin(ids: _*)))
      logEvents("delete", doomed)
    }
    n
  }

  /** Maintenance compaction: rewrite the live generation id-range-
    * clustered into `targetFiles` parquet files (default: sized from the
    * on-disk bytes at ~128 MB/file). A mutation-heavy collection
    * accumulates one small file set per commit; compaction restores scan
    * efficiency and the id clustering gives parquet min/max row-group
    * pruning for point gets. Content-neutral (same rows), and it goes
    * through the same crash-safe generation swap as every mutation — a
    * crash mid-compact recovers to the pre-compact generation. No CDC
    * event (nothing changed logically); derived indexes key on the data
    * fingerprint and rebuild lazily on the next search. */
  def compact(targetFiles: Int = 0): Unit = {
    if (isEmpty) return
    val n =
      if (targetFiles > 0) targetFiles
      else math.max(1, (fs.getContentSummary(dataPath).getLength /
        (128L << 20)).toInt)
    commit(df.repartitionByRange(n, col("id")).sortWithinPartitions("id"))
  }

  /** Collection-level exact search (the reference's `collection.search`,
    * `vectordb_optimized.py:518-560`): metric comes from the collection
    * config, the optional filter applies BEFORE scoring (exact filtered
    * top-k), ties break on id. Expects a `vector` column. */
  def search(queryVec: Seq[Double], k: Int = 10,
      filter: Option[Pred] = None): DataFrame = {
    logSearch("exact", k)
    // raw three-valued predicate: in a positive filter a NULL (missing
    // field) drops the row exactly like false, and staying raw lets the
    // leaves push down to the Parquet scan (coalesce(p, false) would
    // block PushedFilters)
    graft.knn.Knn.search(df, col("vector"),
      org.apache.spark.sql.functions.typedlit(queryVec),
      config.metric, k, filter.map(_.column), idCol = "id")
  }

  /** Batch search over a (query_id, qvec) relation — top-k per query. */
  def searchBatch(queries: DataFrame, k: Int = 10): DataFrame = {
    logSearch("exact_batch", k)
    graft.knn.Knn.searchBatch(df, col("vector"), queries,
      config.metric, k, idCol = "id")
  }

  /** Every column except id/vector — carried into the index bucket rows
    * so [[searchAnn]] filters push down to the index scan. */
  private def metaColumns(d: DataFrame): Seq[String] =
    d.columns.toSeq.filterNot(c => c == "id" || c == "vector")

  /** This collection's ANN index path for the CURRENT data generation:
    * the fingerprint is computed from the live data files, so EVERY
    * committed mutation moves the path and a stale index can never be
    * served — the wiring that makes the persistent index layer follow
    * the collection the way the reference's in-memory indexes follow its
    * mutations (`vectordb_optimized.py:337-365, 467-501`). */
  private def annIndexPath(f: AnnFamily, gen: String): String =
    graft.index.IndexStore.pathAt(s"$root/${config.name}", f.kind, gen)

  /** One ANN index layout: its index-store kind, and how to build it over
    * a data generation, append new rows to it, probe it for one query
    * (`multiProbe` is every family's recall knob) and for a (qid, qvec)
    * relation. The first argument of each is the index path. */
  private final class AnnFamily(val kind: String,
      val build: (String, DataFrame) => Unit,
      val append: (String, DataFrame) => Unit,
      val search: (String, Seq[Double], Int, Option[Column], Boolean) => DataFrame,
      val searchBatch: (String, DataFrame, Int) => DataFrame)

  /** Fixed deterministic IVF geometry for l2 collections (same
    * oracle-friendly codebook family as the testdata IVF paths). */
  private val IvfCells = 16
  private val IvfNprobe = 4
  private def nprobe(multiProbe: Boolean) =
    if (multiProbe) IvfNprobe * 2 else IvfNprobe

  /** The index family follows the metric: sign-hyperplane LSH is a
    * cosine family, so cosine collections carry LSH buckets, l2
    * collections carry an IVF cell layout (k-means Voronoi = native l2
    * geometry), and ip collections carry the MIPS augmented-cell layout
    * (the L2 augmentation turns inner-product order into augmented-L2
    * order — graft.index.MipsIndex). Other metrics have none. */
  private val annFamily: Option[AnnFamily] = {
    import graft.index.{IvfIndex, LshIndex, MipsIndex}
    config.metric match {
      // pruned bucket layout, one dir per (band, value): a probe reads
      // only its own buckets. The kind names the layout: `colllsh` dirs
      // written by older versions hold the compact layout (4 band dirs,
      // whose band_val skipping reads most of each dir), and a pruned
      // append into one would mix the two layouts, so they are never
      // served or advanced.
      case "cosine" => Some(new AnnFamily("colllshp",
        (p, d) => LshIndex.build(spark, d, "vector", "id",
          config.dimensions, p, metaColumns(d)),
        (p, d) => LshIndex.append(spark, d, "vector", "id",
          config.dimensions, p, metaColumns(d)),
        (p, q, k, f, mp) => LshIndex.search(spark, p, "vector", "id", q,
          config.dimensions, k, f, multiProbe = mp),
        (p, qs, k) => LshIndex.searchBatch(spark, p, "vector", "id", qs,
          config.dimensions, k)))
      case "l2" => Some(new AnnFamily("collivf",
        (p, d) => IvfIndex.build(spark, d, "vector", "id",
          graft.knn.Ann.fixedIvfModel(IvfCells, config.dimensions), p,
          metaColumns(d), stringIds = true),
        (p, d) => IvfIndex.append(spark, d, "vector", "id", p, metaColumns(d),
          stringIds = true),
        (p, q, k, f, mp) => IvfIndex.search(spark, p, "vector", "id", q,
          nprobe(mp), k, f, metric = "l2"),
        (p, qs, k) => IvfIndex.searchBatchDf(spark, p, "vector", "id", qs,
          IvfNprobe, k, metric = "l2")))
      case "ip" => Some(new AnnFamily("collmips",
        (p, d) => MipsIndex.build(spark, d, "vector", "id", IvfCells, p,
          metaColumns(d), stringIds = true),
        (p, d) => MipsIndex.append(spark, d, "vector", "id", p, metaColumns(d),
          stringIds = true),
        (p, q, k, f, mp) => MipsIndex.search(spark, p, "vector", "id", q,
          nprobe(mp), k, f),
        (p, qs, k) => MipsIndex.searchBatchDf(spark, p, "vector", "id", qs,
          IvfNprobe, k)))
      case _ => None
    }
  }

  /** A `none` collection is searched by text and metadata only. */
  private def family: AnnFamily = annFamily.getOrElse(
    throw new IllegalArgumentException(
      s"no ANN index family for metric '${config.metric}'"))

  /** Build-if-absent the collection's persistent ANN index (build once,
    * probe many; rebuilds only when the data generation changed and no
    * incremental advance covered it). Returns the index path. */
  def ensureAnnIndex(): String = {
    val f = family
    // the data is opened only inside the build closure: a ready index
    // serves without touching the collection's files
    graft.index.IndexStore.ensure(spark, annIndexPath(f, fingerprint))(
      f.build(_, df))
  }

  /** ANN search over the collection's own persistent LSH index: 4-of-64
    * bucket-partition probe + exact rerank; the optional metadata filter
    * applies BEFORE the rerank and pushes down to the index scan (exact
    * filtered top-k — stronger than the reference's over-fetch +
    * post-filter, `vectordb_optimized.py:507-575`). Index freshness is
    * automatic: any mutation changes the data fingerprint, so the next
    * search rebuilds (or, after a pure insert, reuses the
    * incrementally-advanced index).
    *
    * The index family follows the metric ([[annFamily]]): cosine probes
    * LSH buckets, l2 probes IVF cells (reranked with the true l2
    * distance), ip probes MIPS augmented cells (reranked with the true
    * dot product). `multiProbe` is the recall knob of every family —
    * 1-bit-flip buckets for LSH, doubled nprobe for IVF/MIPS.
    */
  def searchAnn(queryVec: Seq[Double], k: Int = 10,
      filter: Option[Pred] = None, multiProbe: Boolean = false): DataFrame = {
    logSearch("ann", k)
    family.search(ensureAnnIndex(), queryVec, k, filter.map(_.column),
      multiProbe)
  }

  /** The text index path of data generation `gen`. */
  private def textIndexPath(gen: String): String =
    graft.index.IndexStore.pathAt(s"$root/${config.name}", "collbm25", gen)

  /** Build-if-absent the collection's persistent BM25 index over its own
    * `text` column (same fingerprint lifecycle as [[ensureAnnIndex]]).
    * The one keyword index of the collection: [[searchText]] and
    * [[searchHybrid]] both read it. */
  def ensureTextIndex(): String = {
    val gen = generation
    ensureTextIndex(gen, read(gen))
  }

  /** [[ensureTextIndex]] over generation `gen`, already opened as `data`. */
  private def ensureTextIndex(gen: String, data: DataFrame): String = {
    require(data.columns.contains("text"),
      s"collection '${config.name}' has no 'text' column")
    graft.index.IndexStore.ensure(spark, textIndexPath(gen))(p =>
      graft.index.Bm25Index.build(spark,
        data.select(col("id").as("doc_id"), col("text")), p))
  }

  /** Keyword top-k over the collection's own BM25 index; the optional
    * filter applies BEFORE scoring (df and corpus stats recomputed over
    * the allowed subset — `Bm25Index.searchFiltered`). Returns
    * (id, score). */
  def searchText(terms: Seq[String], k: Int = 10,
      filter: Option[Pred] = None): DataFrame = {
    logSearch("text", k)
    // one fingerprint serves the data relation and the index path
    val gen = generation
    val data = read(gen)
    val p = ensureTextIndex(gen, data)
    val res = filter match {
      case Some(f) =>
        graft.index.Bm25Index.searchFiltered(spark, p,
          data.filter(f.column).select(col("id").as("doc_id")), terms, k)
      case None => graft.index.Bm25Index.search(spark, p, terms, k)
    }
    res.withColumnRenamed("doc_id", "id")
  }

  /** Everything [[searchHybrid]] needs prebuilt: the text index, as
    * the hybrid blend reads the collection's one BM25 index and its own
    * vectors. Returns the text index path. */
  def ensureHybridIndex(): String = ensureTextIndex()

  /** Weighted vector+keyword blend — the reference's HybridSearchEngine
    * surface (`hybrid_search.py:360-477`, cosine similarity by
    * definition): the keyword branch probes the collection's BM25 index
    * ([[ensureTextIndex]], maintained across mutations like
    * [[searchAnn]]'s), the vector branch scores the collection's own
    * vectors exactly. Returns (id, vector_score, keyword_score, score). */
  def searchHybrid(terms: Seq[String], queryVec: Seq[Double], k: Int = 10,
      alpha: Double = 0.6, vectorWeight: Option[Double] = None,
      keywordWeight: Option[Double] = None): DataFrame = {
    logSearch("hybrid", k)
    // the blend's vector branch is cosine by definition; silently
    // ranking an l2/ip collection's vectors by cosine would contradict
    // search/searchAnn on the same collection
    require(config.metric == "cosine",
      s"hybrid search blends cosine similarity (reference semantics); " +
        s"collection '${config.name}' is '${config.metric}'")
    // one fingerprint and one open of the generation serve the text
    // check, the index ensure and the vector branch
    val gen = generation
    val data = read(gen)
    graft.hybrid.HybridSearch.searchIndexed(spark,
        data.select(col("id").as("doc_id"), col("vector").as("embedding")),
        ensureTextIndex(gen, data), terms, queryVec, k, alpha, vectorWeight,
        keywordWeight)
      .withColumnRenamed("doc_id", "id")
  }

  /** Batch ANN over the collection's index: one probe JOIN for the whole
    * (qid, qvec) relation — the cluster-scale form of [[searchAnn]].
    * cosine = LSH bucket equi-join; l2 = distributed IVF probe with
    * dynamic partition pruning over the cell layout (the query relation
    * is never collected to the driver); ip = distributed MIPS
    * augmented-cell probe with true-dot rerank. */
  def searchAnnBatch(queries: DataFrame, k: Int = 10): DataFrame = {
    logSearch("ann_batch", k)
    family.searchBatch(ensureAnnIndex(), queries, k)
  }

  def get(ids: Seq[String]): DataFrame = df.filter(col("id").isin(ids: _*))

  /** Retrieve by metadata predicate — the reference client's
    * `collection.get(where=...)` (`tests/test_client.py:172-182`). Same
    * matching semantics as [[deleteWhere]]'s doomed set: `.filter()` drops
    * NULL-valued predicate rows, so a missing metadata field fails every
    * leaf exactly like the reference evaluator; the raw three-valued
    * column keeps the leaves pushable into the Parquet scan. */
  def getWhere(pred: graft.filter.Pred): DataFrame = df.filter(pred.column)

  def peek(n: Int): DataFrame = df.orderBy("id").limit(n)

  def count(): Long = if (isEmpty) 0L else df.count()

  def listIds(limit: Int, offset: Int): Seq[String] =
    df.select("id").orderBy("id").offset(offset).limit(limit)
      .collect().map(_.getString(0)).toSeq
}

/** Collection catalog rooted at a directory (reference VectorDB,
  * `vectordb_optimized.py:746-818`): discovery = subdirs with a
  * config.json. */
final class VectorDb(spark: SparkSession, root: String) {
  private def fs = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  def createCollection(name: String, dimensions: Int,
      metric: String = "cosine"): VectorCollection = {
    // validate on CREATE only — an existing collection whose name or
    // metric predates (or bypasses) these rules must still open via
    // getCollection
    require(CollectionConfig.NameOk.matches(name),
      s"collection name must match [A-Za-z0-9_-]+: '$name'")
    require(CollectionConfig.Metrics.contains(metric),
      s"collection metric must be one of " +
        s"${CollectionConfig.Metrics.mkString(" | ")}: '$metric'")
    val cfg = CollectionConfig(name, dimensions, metric)
    val cfgPath = new Path(s"$root/$name/config.json")
    val out = fs.create(cfgPath, true)
    out.write(cfg.toJson.getBytes(StandardCharsets.UTF_8))
    out.close()
    new VectorCollection(spark, root, cfg)
  }

  /** Open-or-create (the reference's `get_or_create_collection`,
    * `client.py` surface): an existing collection's stored config wins —
    * the requested dimensions/metric apply only on creation. */
  def getOrCreateCollection(name: String, dimensions: Int,
      metric: String = "cosine"): VectorCollection =
    getCollection(name).getOrElse(createCollection(name, dimensions, metric))

  def getCollection(name: String): Option[VectorCollection] = {
    val cfgPath = new Path(s"$root/$name/config.json")
    if (!fs.exists(cfgPath)) None
    else {
      val in = fs.open(cfgPath)
      val json = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      in.close()
      Some(new VectorCollection(spark, root, CollectionConfig.fromJson(json)))
    }
  }

  def listCollections(): Seq[String] =
    if (!fs.exists(new Path(root))) Nil
    else fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory &&
        fs.exists(new Path(s.getPath, "config.json")))
      .map(_.getPath.getName).sorted

  def dropCollection(name: String): Boolean =
    fs.delete(new Path(s"$root/$name"), true)

  /** Drop every collection under this root (reference `client.reset`). */
  def reset(): Unit = listCollections().foreach(dropCollection)

  /** Liveness probe (reference `client.heartbeat`): nanosecond
    * timestamp, no I/O. */
  def heartbeat(): Long = System.nanoTime()
}
