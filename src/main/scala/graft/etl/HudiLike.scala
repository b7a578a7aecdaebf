package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}

/** Copy-on-write keyed-upsert semantics, re-expressed in pure Spark.
  *
  * The reference delegates this to Apache Hudi (reference:
  * pipeline_architecture.py:238-260 — `operation=upsert`,
  * `hoodie.datasource.write.recordkey.field` py:246,
  * `precombine.field` py:247, CoW table type py:93/245). No Hudi jar
  * exists in this environment, so the semantics are rebuilt from Spark
  * primitives:
  *
  *   - record key    → `keys: Seq[String]` (composite keys supported, as
  *                      in the log table's `pipeline_name,created_at`,
  *                      py:114)
  *   - precombine    → latest-wins dedup via a window
  *                      `row_number() over (partition by keys order by
  *                      precombine desc)` — on a precombine tie the
  *                      *incoming* record wins, matching Hudi's
  *                      DefaultHoodieRecordPayload
  *   - copy-on-write → the merged snapshot is rewritten wholesale and
  *                      swapped in with an atomic directory rename
  *                      (write-to-tmp + move), mirroring CoW's
  *                      rewrite-file-groups commit.
  *
  * At cluster scale the merge is a plain shuffle-on-key (sort-merge or,
  * with a small incoming batch, broadcast) — Catalyst picks; nothing here
  * collects to the driver.
  */
object HudiLike {

  /** Keep the latest row per key by `precombine` (desc), ties broken by
    * `tieBreak` columns (desc) so results are deterministic.
    * This is the reference's preCombineField resolution (py:95, 116).
    */
  def precombineLatest(
      df: DataFrame,
      keys: Seq[String],
      precombine: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val ordering = (col(precombine).desc +: tieBreak.map(col(_).desc))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The column [[upsert]]'s `prior` adds: a struct of the key's
    * `prior` columns as the existing side held them, NULL for a key
    * the existing side lacks.
    */
  val PriorCol = "__prior"

  /** Merge `incoming` into `existing` by `keys`: rows with a key present
    * in `incoming` are replaced (precombine latest-wins, incoming wins
    * ties), unmatched existing rows are kept, new keys are inserted.
    * Pure function of its inputs — the write path is `commit`. With
    * `prior`, each output row also carries [[PriorCol]].
    */
  def upsert(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      precombine: String,
      tieBreak: Seq[String] = Nil,
      prior: Seq[String] = Nil): DataFrame = {
    // schema evolution (the reference enables
    // `hoodie.schema.on.read.enable=true`, py:54): columns added by the
    // incoming batch are appended to the table schema with nulls for
    // unmatched existing rows; columns the batch omits stay, null on
    // replaced rows — Hudi's schema-on-read semantics.
    val cols = existing.columns.toSeq ++
      incoming.columns.toSeq.filterNot(existing.columns.contains)
    val tagged = SchemaShim.unionByName(
      existing.withColumn("__src", lit(0)),
      incoming.withColumn("__src", lit(1)))
    val ordering =
      (Seq(col(precombine).desc, col("__src").desc) ++ tieBreak.map(col(_).desc))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    val ranked = tagged.withColumn("__rn", row_number().over(w))
    // same partitioning as `w`: the prior rides the merge's exchange
    val withPrior =
      if (prior.isEmpty) ranked
      else ranked.withColumn(PriorCol,
        first(when(col("__src") === 0, struct(prior.map(col): _*)),
          ignoreNulls = true).over(Window.partitionBy(keys.map(col): _*)))
    withPrior
      .filter(col("__rn") === 1)
      .select((cols ++ prior.headOption.map(_ => PriorCol)).map(col): _*)
  }

  /** Partial-update merge — Hudi's `PartialUpdateAvroPayload`
    * semantics on top of the same ordering as [[upsert]]: per key,
    * each non-key column takes its value from the LATEST row (by
    * precombine, incoming-wins, tie-break) whose value there is NOT
    * NULL, so an update batch can carry only the columns it changes
    * and null out the rest. Spark-native formulation: one window
    * partitioned by the key with `last(col, ignoreNulls=true)` over
    * the full frame per payload column, then one representative row
    * per key — the key shuffle happens once and both windows reuse
    * the exchange/sort.
    */
  def upsertPartial(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      precombine: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val cols = existing.columns.toSeq ++
      incoming.columns.toSeq.filterNot(existing.columns.contains)
    val tagged = SchemaShim.unionByName(
      existing.withColumn("__src", lit(0)),
      incoming.withColumn("__src", lit(1)))
    val asc = (Seq(col(precombine).asc, col("__src").asc) ++
      tieBreak.map(col(_).asc))
    val full = Window.partitionBy(keys.map(col): _*).orderBy(asc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pick = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(precombine).desc, col("__src").desc) ++
        tieBreak.map(col(_).desc)): _*)
    // ALL window expressions in one select, each referencing the
    // ORIGINAL columns: a sequential withColumn fill would overwrite
    // the precombine column first and silently re-order every later
    // column's window by the filled constant (HudiLikeSpec's
    // stale-incoming case catches exactly that)
    tagged.select(
      (cols.map { c =>
        if (keys.contains(c)) col(c)
        else last(col(c), ignoreNulls = true).over(full).as(c)
      } :+ row_number().over(pick).as("__rn")): _*)
      .filter(col("__rn") === 1)
      .select(cols.map(col): _*)
  }

  /** Change-data-capture diff between two keyed states: every key in
    * either side, tagged `insert` (new only), `delete` (old only),
    * `update` (both, any non-key column changed), or `unchanged`. This
    * is the change feed a CoW upsert implies — what Hudi surfaces as an
    * incremental query on the commit timeline. One full-outer shuffle
    * on the key.
    */
  def changeSet(oldState: DataFrame, newState: DataFrame, keys: Seq[String]): DataFrame = {
    // compare over the UNION of both schemas — a column added (or
    // dropped) by schema evolution must count as a change, not be
    // silently excluded from the comparison struct
    val payload = (oldState.columns.toSeq ++
      newState.columns.toSeq.filterNot(oldState.columns.contains))
      .filterNot(keys.contains)
    val types =
      (oldState.schema.fields ++ newState.schema.fields)
        .map(f => f.name -> f.dataType).toMap
    def payloadStruct(df: DataFrame) = struct(payload.map { c =>
      if (df.columns.contains(c)) col(c) else lit(null).cast(types(c)).as(c)
    }: _*)
    val o = oldState.select(keys.map(col) :+ payloadStruct(oldState).as("__old"): _*)
    val n = newState.select(keys.map(col) :+ payloadStruct(newState).as("__new"): _*)
    o.join(n, keys, "full_outer")
      .withColumn("change_type",
        when(col("__old").isNull, "insert")
          .when(col("__new").isNull, "delete")
          .when(col("__old") === col("__new"), "unchanged")
          .otherwise("update"))
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  /** Atomic CoW commit. The snapshot is written to an immutable sibling
    * dir (`table.snap-<n>`) and `tablePath` itself is a symlink swung
    * onto it with a single atomic rename — a reader resolving the path
    * sees either the whole old snapshot or the whole new one, never an
    * absent or half-written table, and a crash at any point leaves the
    * previous commit live (Hudi's commit-timeline guarantee; the old
    * snapshot's removal after the swap is py:58-59
    * `hoodie.clean.automatic=true`, with the same caveat as Hudi
    * cleaning: a reader still holding the cleaned snapshot fails).
    * Plain `spark.read.parquet(tablePath)` / DuckDB reads work
    * unchanged through the symlink. This is the POSIX-local equivalent
    * of [[Timeline.commit]]'s pointer file — on an object store (no
    * atomic rename-over) use `Timeline`, which is the scale path.
    */
  def commit(df: DataFrame, tablePath: String): Unit = {
    val target = Paths.get(tablePath)
    val snap = Paths.get(tablePath + ".snap-" + System.nanoTime())
    UnitSchema.write(df, snap.toString, mode = "overwrite")
    val prev =
      if (Files.isSymbolicLink(target)) Some(Files.readSymbolicLink(target))
      else None
    val linkTmp = Paths.get(tablePath + ".ptr-" + System.nanoTime())
    Files.createSymbolicLink(linkTmp, snap.getFileName)
    if (Files.exists(target, LinkOption.NOFOLLOW_LINKS) &&
        !Files.isSymbolicLink(target)) {
      // legacy plain-directory table: rename(2) cannot atomically replace
      // a non-empty dir, so migration to the symlink layout crosses the
      // old two-step swap exactly once; every later commit is atomic.
      val old = Paths.get(tablePath + ".old-" + System.nanoTime())
      Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(linkTmp, target, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(old)
    } else {
      Files.move(linkTmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      prev.foreach(p => deleteRecursively(target.resolveSibling(p)))
    }
    // hive-sync analog (py:248-251): re-register tracked views / refresh
    // cached plans so pre-existing readers resolve the new snapshot
    Catalog.syncViews(df.sparkSession, tablePath)
  }

  /** Upsert `incoming` into the parquet table at `tablePath` (created if
    * absent) and commit atomically. The reference's `write_hudi_table`
    * (py:238-260) end-to-end.
    */
  def upsertInto(
      spark: SparkSession,
      tablePath: String,
      incoming: DataFrame,
      keys: Seq[String],
      precombine: String,
      tieBreak: Seq[String] = Nil): Unit = {
    val merged =
      if (Files.exists(Paths.get(tablePath))) {
        val existing = UnitSchema.read(spark, tablePath)
        // localCheckpoint decouples the merged plan from the files about
        // to be swapped out; without it the lazy write would re-read the
        // directory being replaced.
        upsert(existing, incoming, keys, precombine, tieBreak).localCheckpoint()
      } else precombineLatest(incoming, keys, precombine, tieBreak)
    commit(merged, tablePath)
  }

  private def deleteRecursively(p: Path): Unit = FsUtil.deleteRecursively(p)
}
