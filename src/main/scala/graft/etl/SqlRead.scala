package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL read front door — `SELECT` over graft-registered catalog
  * tables, including time travel (`VERSION AS OF n` / `TIMESTAMP AS
  * OF ts`, Hudi's as-of-instant query surface) on [[Timeline]]-bound
  * ones. The statement is parsed by SPARK'S OWN parser; every
  * reference to a graft layout is substituted with its manifest-aware
  * read (a raw catalog read of the stub location would return empty),
  * a timeline reference with a travel spec resolves the exact
  * snapshot, and everything else — joins, aggregates, temp views,
  * plain tables — analyzes and optimizes exactly as Spark SQL.
  * Travel resolution is metadata-only: version → its immutable `v=N`
  * directory; timestamp → the newest instant at or before it
  * ([[Timeline.resolveAsOf]]), then that directory.
  */
object SqlRead {

  def select(spark: SparkSession, sqlText: String): DataFrame = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sqlText)
    // transformDown: a RelationTimeTravel node must be matched BEFORE
    // its inner UnresolvedRelation child (bottom-up would rewrite the
    // child to the latest snapshot and strand the travel spec)
    val substituted = parsed.transformDown {
      // index-served point read: a filter whose equality conjuncts pin
      // the FULL primary key of a bucket/bloom-layout table routes to
      // the layout's point lookup (record index → one shard + one data
      // file; bloom → candidate files; bucket → one bucket dir) instead
      // of the manifest-wide snapshot scan — Hudi's RLI-served
      // `WHERE key = ...` query path. The filter stays on top: residual
      // conjuncts still apply, and re-checking the key equalities over
      // the one resolved file is free.
      case f @ Filter(cond, r: UnresolvedRelation) =>
        routedRead(spark, r, cond)
          .map(plan => Filter(cond,
            SubqueryAlias(r.multipartIdentifier.last, plan)))
          .getOrElse(f)
      case f @ Filter(cond, sa @ SubqueryAlias(_, r: UnresolvedRelation)) =>
        routedRead(spark, r, cond)
          .map(plan => Filter(cond, SubqueryAlias(sa.identifier, plan)))
          .getOrElse(f)
      case tt: RelationTimeTravel =>
        val name = relationName(tt.relation).getOrElse(
          throw new IllegalArgumentException(
            s"cannot resolve time-travel target: ${tt.relation}"))
        layoutOf(spark, name) match {
          case Some((kind, path)) =>
            // one travel surface, five version domains:
            //   timeline    — instant versions, wall clock on instants
            //   bucket      — commit numbers; the folded bucket→gen map
            //                 served from immutable generation dirs
            //   bloom       — commit numbers; the folded file set from
            //                 the log's file deltas
            //   partitioned — commit numbers; the folded (manifest,
            //                 delta) pair, base merged with that
            //                 version's pending deltas
            //   mor         — CHANGE SEQS (the cursor domain, so
            //                 VERSION AS OF <cursor> is exactly that
            //                 consumer's snapshot)
            // every TIMESTAMP resolves by the same contract: newest
            // commit at or before the instant, loud earlier
            Layout.named(kind) match {
              case Some(layout) =>
                val version = (tt.version, tt.timestamp) match {
                  case (Some(v), _) => v.toLong
                  case (None, Some(ts)) => layout.resolveAsOf(path, epochMs(ts))
                  case (None, None) => throw new IllegalArgumentException(
                    s"time travel over $name needs VERSION AS OF or " +
                      "TIMESTAMP AS OF")
                }
                Catalog.alignToDeclared(spark, name,
                  layout.readVersion(spark, path, version))
                  .queryExecution.analyzed
              case None => throw new IllegalArgumentException(
                s"$name is not a versioned-layout table — time travel " +
                  "needs a timeline, bucket, bloom, partitioned or mor " +
                  s"layout; '$kind' layouts serve only the latest snapshot")
            }
          case None => throw new IllegalArgumentException(
            s"$name is not a versioned-layout table — time travel " +
              "needs a timeline, bucket, bloom, partitioned or mor layout")
        }
      case r: UnresolvedRelation =>
        // ANY graft layout resolves to its manifest-aware read — a
        // plain catalog read of the stub location would return empty
        layoutKind(spark, r.multipartIdentifier.mkString(".")) match {
          case Some(_) =>
            Catalog.readTable(spark, r.multipartIdentifier.mkString("."))
              .queryExecution.analyzed
          case None => r
        }
    }
    org.apache.spark.sql.graftbridge.Bridge.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      substituted)
  }

  /** Predicate-aware substitution for a filtered graft relation:
    * full-key equality on bucket/bloom → the index point lookup
    * ([[pointRead]]); partition-column conjuncts on a partitioned
    * layout → the partition-pruned scan ([[prunedScan]]). Either way
    * the original filter stays on top of the substituted plan.
    */
  private def routedRead(spark: SparkSession, rel: UnresolvedRelation,
      cond: Expression): Option[LogicalPlan] =
    pointRead(spark, rel, cond)
      .orElse(rliRead(spark, rel, cond))
      .orElse(secondaryRead(spark, rel, cond))
      .orElse(prunedScan(spark, rel, cond))
      .orElse(skippingScan(spark, rel, cond))

  /** Global record-index-served point read on the PARTITIONED layout
    * (Hudi 0.14's RLI query path): when the table binds a record index
    * (`_rli`) and the filter pins every KEY column to bounded literal
    * value sets — partition value unknown, the case the layout's own
    * routing can't serve — ONE probed index bucket per combination
    * resolves the identities (key → partition values) and one
    * [[PartitionedTable.lookupMany]] reads only the slices they route
    * to. Without this route the same query scans every partition.
    */
  private def rliRead(spark: SparkSession, rel: UnresolvedRelation,
      cond: Expression): Option[LogicalPlan] = {
    val name = rel.multipartIdentifier.mkString(".")
    layoutOf(spark, name).flatMap {
      case ("partitioned", path) =>
        PartitionedTable.boundRecordIndex(path).flatMap { rliPath =>
          val keys = PartitionedTable.props(path).keys
          val sets = literalValueSets(cond)
          if (!keys.forall(k => sets.contains(k.toLowerCase))) None
          else {
            val product = keys.map(k =>
              sets(k.toLowerCase).size.toLong).product
            if (product > BloomTable.InListMax) None
            else {
              val combos = keys.foldLeft(Seq(Seq.empty[Any])) { (acc, k) =>
                for (prefix <- acc; v <- sets(k.toLowerCase))
                  yield prefix :+ v
              }
              SecondaryIndex.ensureCurrent(spark, "partitioned", path, rliPath)
              Some(Catalog.alignToDeclared(spark, name,
                SecondaryIndex.lookupMultiPartitioned(
                  spark, path, rliPath, combos))
                .queryExecution.analyzed)
            }
          }
        }
      case _ => None
    }
  }

  /** Per-column bounded literal value sets from the filter's top-level
    * conjuncts — equality, `IN (literals...)`, `IS NULL` / null-safe
    * equality. A column constrained by several conjuncts keeps the
    * FIRST set (the retained filter restores exactness — serving a
    * superset is sound).
    */
  private def literalValueSets(cond: Expression): Map[String, Seq[Any]] = {
    def cvt(l: Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)
    conjuncts(cond).flatMap {
      case EqualTo(a: UnresolvedAttribute, l: Literal) =>
        Some(a.nameParts.last.toLowerCase -> Seq(cvt(l)))
      case EqualTo(l: Literal, a: UnresolvedAttribute) =>
        Some(a.nameParts.last.toLowerCase -> Seq(cvt(l)))
      case EqualNullSafe(a: UnresolvedAttribute, l: Literal) =>
        Some(a.nameParts.last.toLowerCase -> Seq(cvt(l)))
      case EqualNullSafe(l: Literal, a: UnresolvedAttribute) =>
        Some(a.nameParts.last.toLowerCase -> Seq(cvt(l)))
      case In(a: UnresolvedAttribute, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        Some(a.nameParts.last.toLowerCase ->
          vs.map(v => cvt(v.asInstanceOf[Literal])).distinct)
      case IsNull(a: UnresolvedAttribute) =>
        Some(a.nameParts.last.toLowerCase -> Seq(null))
      case _ => None
    }.groupBy(_._1).view.mapValues(_.head._2).toMap
  }

  /** Secondary-index-served SELECT: when the table binds a secondary
    * index (`graft.table.secondaryIndex`) and the filter's conjuncts
    * pin every indexed column to a bounded literal VALUE SET —
    * equality, `IN (literals...)`, `IS NULL` / null-safe equality —
    * the scan is one index-bucket probe per value combination (the
    * cartesian across indexed columns, capped at
    * [[BloomTable.InListMax]]; larger sets fall through to the scan
    * routes rather than inflate the plan) + ONE multi-bucket fetch of
    * the hit rows — Hudi's secondary-index query path, no table scan.
    * The retained filter on top re-checks the predicates (free over
    * the served rows) and applies any residual conjuncts.
    */
  private def secondaryRead(spark: SparkSession, rel: UnresolvedRelation,
      cond: Expression): Option[LogicalPlan] = {
    val name = rel.multipartIdentifier.mkString(".")
    layoutOf(spark, name).flatMap {
      // bucket: index resolves keys, one multi-bucket primary fetch.
      // mor: the index is COVERING (one file group — a keyed fetch
      // would be a merge scan), so the probe serves the rows itself
      // with zero primary access.
      // partitioned: index resolves identities (partition cols +
      // keys), one lookupMany reads only the slices they route to.
      // bloom: index resolves keys, one candidate-file fetch.
      // timeline: covering over the LATEST version (a keyed fetch
      // would scan the whole head snapshot), same serve as mor.
      case (kind, path)
          if kind == "bucket" || kind == "mor" || kind == "partitioned" ||
            kind == "bloom" || kind == "timeline" =>
        // several indexes may be bound — serve from the fully-pinned
        // index with the MOST indexed columns (the narrowest probe: a
        // wide low-cardinality index must not shadow a sharper one),
        // tie-breaking by declaration order (sortBy is stable). Any
        // fully-pinned index is sound; the retained filter restores
        // exactness — the preference is purely selectivity.
        val candidates = Catalog.secondaryIndexesOf(spark, name)
          .sortBy(-_._1.size)
        candidates.view.flatMap {
          case (secCols, idxPath) =>
            val sets = literalValueSets(cond)
            if (!secCols.forall(c => sets.contains(c.toLowerCase))) None
            else {
              // bound-check on the SIZES before materializing the
              // cartesian: two 10k-literal IN lists must fall through
              // without allocating 100M combination rows first
              val product = secCols.map(c =>
                sets(c.toLowerCase).size.toLong).product
              if (product > BloomTable.InListMax) None
              else {
                val combos = secCols.foldLeft(Seq(Seq.empty[Any])) { (acc, c) =>
                  for (prefix <- acc; v <- sets(c.toLowerCase))
                    yield prefix :+ v
                }
                // crash-loudness gate: the index's covered head must
                // match the primary's commit head, else reconcile on
                // read — an index-served SELECT never silently misses
                // rows a crashed (or bypassing) writer left unindexed
                SecondaryIndex.ensureCurrent(spark, kind, path, idxPath)
                val served =
                  if (kind == "mor" || kind == "timeline")
                    SecondaryIndex.lookupMultiCovering(spark, idxPath, combos)
                  else if (kind == "partitioned")
                    SecondaryIndex.lookupMultiPartitioned(
                      spark, path, idxPath, combos)
                  else if (kind == "bloom")
                    SecondaryIndex.lookupMultiBloom(spark, path, idxPath, combos)
                  else SecondaryIndex.lookupMulti(spark, path, idxPath, combos)
                Some(Catalog.alignToDeclared(spark, name, served)
                  .queryExecution.analyzed)
              }
            }
        }.headOption
      case _ => None
    }
  }

  /** Zone-map data skipping through the SQL front door: when the table
    * binds a [[StatsIndex]] (`graft.table.statsIndex`) and the filter
    * carries literal range conjuncts on indexed columns, the scan
    * plans ONLY the files whose min/max can satisfy them — after a
    * metadata sync covering any files the index hasn't seen, so
    * correctness never rests on index freshness. Strict bounds are
    * relaxed to closed ranges for pruning (sound: a superset) — the
    * retained filter restores exactness. No indexed-column range →
    * fall through.
    */
  private def skippingScan(spark: SparkSession, rel: UnresolvedRelation,
      cond: Expression): Option[LogicalPlan] = {
    val name = rel.multipartIdentifier.mkString(".")
    layoutOf(spark, name).flatMap {
      case (kind, path)
          if kind == "bloom" || kind == "bucket" ||
            kind == "partitioned" || kind == "mor" =>
        Catalog.statsIndexOf(spark, name).flatMap { statsPath =>
          val idx = StatsIndex.columns(statsPath)
            .map(c => c.toLowerCase -> c).toMap
          def scalar(l: Literal): Any =
            CatalystTypeConverters.convertToScala(l.value, l.dataType)
          def named(a: UnresolvedAttribute): Option[String] =
            idx.get(a.nameParts.last.toLowerCase)
          val ranges = conjuncts(cond).flatMap {
            case EqualTo(a: UnresolvedAttribute, l: Literal) =>
              named(a).map(c => StatsIndex.ColRange(c,
                Some(scalar(l)), Some(scalar(l))))
            case EqualTo(l: Literal, a: UnresolvedAttribute) =>
              named(a).map(c => StatsIndex.ColRange(c,
                Some(scalar(l)), Some(scalar(l))))
            case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
              named(a).map(c => StatsIndex.ColRange(c, lo = Some(scalar(l))))
            case GreaterThan(a: UnresolvedAttribute, l: Literal) =>
              named(a).map(c => StatsIndex.ColRange(c, lo = Some(scalar(l))))
            case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
              named(a).map(c => StatsIndex.ColRange(c, hi = Some(scalar(l))))
            case LessThan(a: UnresolvedAttribute, l: Literal) =>
              named(a).map(c => StatsIndex.ColRange(c, hi = Some(scalar(l))))
            case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
              named(a).map(c => StatsIndex.ColRange(c, hi = Some(scalar(l))))
            case GreaterThan(l: Literal, a: UnresolvedAttribute) =>
              named(a).map(c => StatsIndex.ColRange(c, hi = Some(scalar(l))))
            case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
              named(a).map(c => StatsIndex.ColRange(c, lo = Some(scalar(l))))
            case LessThan(l: Literal, a: UnresolvedAttribute) =>
              named(a).map(c => StatsIndex.ColRange(c, lo = Some(scalar(l))))
            case _ => None
          }
          if (ranges.isEmpty) None
          else {
            val liveOpt: Option[Seq[String]] = kind match {
              case "bloom" => Some(BloomTable.read(spark, path).inputFiles.toSeq)
              case "partitioned" =>
                // a pending delta log means raw file rows ≠ snapshot
                // (the merge applies precombine winners + tombstones):
                // refuse to skip, fall through to the merged read —
                // compaction restores the fast path
                if (PartitionedTable.deltas(path).nonEmpty) None
                else Some(PartitionedTable.readOptimized(spark, path)
                  .inputFiles.toSeq)
              case "mor" =>
                // same contract: pending delta logs make raw base rows
                // ≠ the merged snapshot — skip only between compactions
                MorTable.fullState(path) match {
                  case Some((_, h, f)) if h <= f =>
                    Some(MorTable.readOptimized(spark, path)
                      .inputFiles.toSeq)
                  case _ => None
                }
              case _ => Some(BucketTable.read(spark, path).inputFiles.toSeq)
            }
            // empty table: the snapshot read handles it
            liveOpt.filter(_.nonEmpty).map { live =>
              StatsIndex.syncToFiles(spark, live, statsPath)
              Catalog.alignToDeclared(spark, name,
                StatsIndex.scanFiles(spark, live, statsPath, ranges))
                .queryExecution.analyzed
            }
          }
        }
      case _ => None
    }
  }

  /** Partition pruning through the SQL front door: conjuncts of the
    * filter that reference ONLY the table's partition columns (and no
    * subquery) prune the manifest's partition directories before any
    * file is listed — `SELECT ... WHERE event_date = X` at 100 TB
    * scans one day, not the table. Data-column conjuncts stay in the
    * retained filter; a predicate with no partition-only conjunct
    * falls through to the snapshot read.
    */
  private def prunedScan(spark: SparkSession, rel: UnresolvedRelation,
      cond: Expression): Option[LogicalPlan] = {
    val name = rel.multipartIdentifier.mkString(".")
    layoutOf(spark, name).flatMap {
      case ("partitioned", path) =>
        val pcols = PartitionedTable.props(path).partitionCols
          .map(_.toLowerCase).toSet
        val partOnly = conjuncts(cond).filter { e =>
          val refs = e.collect {
            case a: UnresolvedAttribute => a.nameParts.last.toLowerCase
          }
          refs.nonEmpty && refs.toSet.subsetOf(pcols) &&
            e.find(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.SubqueryExpression])
              .isEmpty
        }
        if (partOnly.isEmpty) None
        else {
          // strip qualifiers (t.event_date → event_date): the pruning
          // predicate resolves against the manifest's partition-value
          // frame, which has no alias
          val unqualified = partOnly.map(_.transform {
            case a: UnresolvedAttribute =>
              UnresolvedAttribute(Seq(a.nameParts.last))
          }).reduce(And(_, _))
          val pred = org.apache.spark.sql.graftbridge.Bridge
            .column(unqualified)
          Some(Catalog.alignToDeclared(spark, name,
            PartitionedTable.prunedRead(spark, path, pred))
            .queryExecution.analyzed)
        }
      case _ => None
    }
  }

  /** The point-lookup plan for `rel` under `cond`, when (a) the table
    * is a bucket- or bloom-layout catalog entry and (b) `cond`'s
    * top-level equality conjuncts cover every primary-key column with
    * literals. Callers re-wrap the returned plan in a [[SubqueryAlias]]
    * (the table's simple name, or the user's alias) so qualified
    * references still resolve. Partial-key predicates and other layouts
    * fall through to the snapshot read (None).
    */
  private def pointRead(spark: SparkSession, rel: UnresolvedRelation,
      cond: Expression): Option[LogicalPlan] = {
    val name = rel.multipartIdentifier.mkString(".")
    layoutOf(spark, name).flatMap {
      case (kind, path) if kind == "bucket" || kind == "bloom" =>
        val keys = Catalog.upsertConfigFull(spark, name)._1
        val eqs = conjuncts(cond).collect {
          case EqualTo(a: UnresolvedAttribute, l: Literal) =>
            a.nameParts.last.toLowerCase -> l
          case EqualTo(l: Literal, a: UnresolvedAttribute) =>
            a.nameParts.last.toLowerCase -> l
        }.toMap
        if (!keys.forall(k => eqs.contains(k.toLowerCase))) None
        else {
          val keyValues = keys.map { k =>
            val l = eqs(k.toLowerCase)
            CatalystTypeConverters.convertToScala(l.value, l.dataType)
          }
          val served = kind match {
            case "bloom" if RecordIndex.exists(path) =>
              RecordIndex.lookup(spark, path, keyValues)
            case "bloom" => BloomTable.lookup(spark, path, keyValues)
            case "bucket" => BucketTable.lookup(spark, path, keyValues)
          }
          Some(Catalog.alignToDeclared(spark, name, served)
            .queryExecution.analyzed)
        }
      case _ => None
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def layoutOf(spark: SparkSession,
      name: String): Option[(String, String)] =
    try Catalog.layoutOf(spark, name)
    catch { case _: Exception => None }

  private def relationName(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[String] =
    plan.collectFirst { case r: UnresolvedRelation =>
      r.multipartIdentifier.mkString(".")
    }

  private def timelinePath(spark: SparkSession, name: String): Option[String] =
    try Catalog.layoutOf(spark, name).collect {
      case ("timeline", path) => path
    } catch {
      // unregistered / temp-view names have no TBLPROPERTIES — not ours
      case _: Exception => None
    }

  private def layoutKind(spark: SparkSession, name: String): Option[String] =
    try Catalog.layoutOf(spark, name).map(_._1)
    catch { case _: Exception => None }

  /** The AS OF coordinate as epoch millis: an integer literal is taken
    * as epoch millis directly; a string literal parses as a timestamp
    * (`yyyy-MM-dd[ HH:mm:ss]`, UTC). Anything non-literal is a loud
    * failure — resolving a computed clock against the timeline would
    * hide nondeterminism the reader can't see.
    */
  private def epochMs(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Long =
    e match {
      case Literal(v: Long, LongType) => v
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(s: UTF8String, StringType) =>
        val text = s.toString.trim
        val withTime = if (text.length == 10) s"$text 00:00:00" else text
        java.time.LocalDateTime.parse(withTime.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case other => throw new IllegalArgumentException(
        s"TIMESTAMP AS OF needs an epoch-millis or timestamp-string " +
          s"literal, got: ${other.sql}")
    }
}
