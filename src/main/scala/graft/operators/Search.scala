package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{cachedRelation, dataFrame, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, AttributeReference, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.functions.GraftFunctions._
import graft.functions.Geo

/** The reference's core capability, re-expressed as a Spark planner: the
  * parameterized hybrid semantic+spatial search of
  * `backend/models.py:114-193` / `backend/app.py:38-57`.
  *
  * Query shape (reference `backend/models.py:186-191`):
  *   SELECT <text fields> FROM layers
  *   WHERE LOWER(type) = ANY(<lowered probes>)          -- optional, P3
  *     AND ST_Intersects(geom, ST_SetSRID(ST_MakePoint(lon, lat), 4326))
  *   ORDER BY embeddings <=> <probe vector>             -- V1 cosine
  *   LIMIT k OFFSET s                                   -- V2/V3
  *
  * Deliberately-preserved reference quirks (SURVEY.md §7.5):
  *  - type probes are lowercased client-side and empty strings dropped;
  *    the filter clause is omitted entirely (plan-time) when the list is
  *    empty (`backend/models.py:159-164`);
  *  - validate-before-reproject: the raw coordinates are range-checked
  *    against +-180/+-90 BEFORE reprojection, so e.g. EPSG:3857 points
  *    beyond ~180 m of the origin are rejected (`backend/models.py:45-64`);
  *  - limit in [1,10] (default 5) and skip >= 0 are request-level errors,
  *    not clamps (`backend/models.py:23-25,89-95`);
  *  - execution errors are captured in the response envelope
  *    ({layers: null, error}) while validation errors propagate — matching
  *    the reference's HTTP 422 vs in-body error split (`backend/app.py:49-53`);
  *  - documented deviation: a deterministic (dist, id) tie-break; the
  *    reference's top-N heapsort leaves ties unordered (SURVEY.md §2.5 V2).
  *
  * Two physical paths, one set of expressions:
  *  - a small corpus (a `LocalRelation`, or a materialized cache under
  *    [[LocalMaxBytes]]) is answered on the driver from a copy of its rows:
  *    the filters and the distance fold into a `LocalRelation` in the
  *    optimizer (Spark's `ConvertToLocalRelation`), the candidates sort by
  *    Spark's (dist, id) ordering and the page is sliced off. No job runs,
  *    so a request costs its Catalyst passes, not a job's scheduling;
  *  - anything else (uncached, parquet-backed, over the cap) plans as a
  *    scan (text-column pruning keeps the 4 KB embeddings column out of the
  *    projection until the distance is computed) -> filters -> codegen
  *    cosine distance -> TakeOrderedAndProject (per-partition
  *    top-(skip+limit) heaps, driver merge) -> project. No shuffle of the
  *    corpus, embarrassingly parallel across files.
  */
object Search {

  /** Six output columns; embeddings/geom never leave the engine
    * (`backend/models.py:27` TEXT_FIELDS).
    */
  val TextFields: Seq[String] =
    Seq("id", "name", "type", "description", "url", "metadata_text")

  val MinLimit = 1
  val MaxLimit = 10
  val DefaultLimit = 5

  /** API-level point, `backend/models.py:30-42`. */
  case class Point(longitude: Double, latitude: Double, epsg: Int = 4326) {
    /** Reproject to 4326 (reference F6). Raw-coordinate validation happens
      * in [[Search.validate]] BEFORE this is called — the quirk.
      */
    def to4326: Point =
      if (epsg == 4326) this
      else {
        val (x, y) = Geo.transformPoint(longitude, latitude, epsg, 4326)
        Point(x, y, 4326)
      }
  }

  /** `backend/models.py:75-102`, with the probe vector precomputed
    * (embedding is outside the engine boundary — SURVEY.md §2.7 F8).
    */
  case class SearchRequest(
      probe: Array[Float],
      typeFilter: Option[Seq[String]] = None,
      inputPoint: Option[Point] = None,
      skip: Int = 0,
      limit: Int = DefaultLimit)

  case class LayerResult(id: String, name: String, `type`: String,
      description: String, url: String, metadata_text: String)

  /** `{layers, error}` envelope, `backend/app.py:49-56`. */
  case class SearchResponse(layers: Option[Seq[LayerResult]], error: Option[String])

  /** Request-level validation (reference P6; violations are errors, not
    * clamps or row filters).
    */
  def validate(req: SearchRequest): Unit = {
    require(req.limit >= MinLimit && req.limit <= MaxLimit,
      s"limit must be in [$MinLimit, $MaxLimit], got ${req.limit}")
    require(req.skip >= 0, s"skip must be >= 0, got ${req.skip}")
    req.inputPoint.foreach { p =>
      // Validate RAW coordinates before reprojection (reference quirk F6).
      require(p.longitude >= -180 && p.longitude <= 180,
        s"longitude out of range [-180, 180]: ${p.longitude}")
      require(p.latitude >= -90 && p.latitude <= 90,
        s"latitude out of range [-90, 90]: ${p.latitude}")
    }
  }

  /** Beyond this many skipped rows, the offset path's physical plan
    * (TakeOrdered heaps of skip+limit rows per partition, skip+limit rows
    * collected to the driver) becomes the SURVEY §7.5 liability. The
    * reference's own caps (skip is unbounded but limit <= 10 and real
    * requests page shallowly) keep gate traffic on the offset path; the
    * deep path serves lifted-cap deployments.
    */
  val DeepSkipThreshold = 1000

  /** Assemble the request's plan. Filters absent from the request are
    * omitted from the plan (not evaluated as no-ops) — reference P5.
    */
  def plan(layers: DataFrame, req: SearchRequest): DataFrame =
    page(layers, req).fold(dataFrame(layers.sparkSession, _), identity)

  /** The request's page: computed on the driver when `layers` has a driver
    * copy, else the distributed plan that computes it. */
  private def page(layers: DataFrame, req: SearchRequest): Either[LocalRelation, DataFrame] = {
    validate(req)
    // Locale.ROOT: Spark's lower() is locale-independent, so the client-side
    // probe lowering must be too (default-locale toLowerCase turns 'I' into
    // a dotless 'ı' under a Turkish JVM and silently matches nothing).
    val probes = req.typeFilter.getOrElse(Nil).filter(_.nonEmpty)
      .map(_.toLowerCase(java.util.Locale.ROOT))
    val filters =
      (if (probes.nonEmpty) Seq(lower(col("type")).isin(probes: _*)) else Nil) ++
        req.inputPoint.map(_.to4326).map(p =>
          st_intersects(col("geom"), st_point(lit(p.longitude), lit(p.latitude))))
    val dist = cosine_distance(col("embeddings"), vector_lit(req.probe))
    driverCopy(layers) match {
      case Some(corpus) => Left(localPage(layers.sparkSession, corpus, filters, dist, req))
      case None =>
        val ranked = filters.foldLeft(layers)(_.filter(_)).withColumn("dist", dist)
        Right(
          if (req.skip <= DeepSkipThreshold)
            ranked
              .orderBy(col("dist").asc, col("id").asc)
              .offset(req.skip)
              .limit(req.limit)
              .select(TextFields.map(col): _*)
          else deepPage(ranked, req))
    }
  }

  /** The largest cached corpus, in cached bytes, that is answered from a
    * driver copy. Measured on 4 cores (CHANGES.md): the driver path costs
    * ~10 ms of Catalyst passes plus ~4 us a row, the distributed path
    * 70-130 ms at any of these sizes, so they cross at 29-31 MB of cache
    * (64- and 256-dim rows). The cap sits at about half the crossover,
    * which also bounds the copy's share of the driver heap. Those figures
    * predate the narrower page of [[localPage]]; the crossover has not been
    * measured again since. */
  val LocalMaxBytes: Long = 16L << 20

  /** The numbered rows of each small corpus, keyed weakly on what owns
    * them: a cache entry's buffers (`unpersist` drops the entry, so a later
    * request over the same Dataset goes back to the distributed plan and
    * the copy becomes garbage with the buffers) or, for a `LocalRelation`
    * corpus, its Dataset's QueryExecution. Both keys compare by identity. */
  private val driverCopies = new java.util.WeakHashMap[AnyRef, IndexedSeq[InternalRow]]()

  /** The corpus as a `LocalRelation` when requests over it take the driver
    * path: the rows of `layers` itself when it is one, else of its cache
    * entry when that is fully materialized and under [[LocalMaxBytes]]
    * (collected with one job). The rows are copied once per corpus, each
    * with its ordinal appended as a last, non-null int column, so a page
    * can rank `(ordinal, id, dist)` alone and fetch its text by ordinal. */
  private def driverCopy(layers: DataFrame): Option[LocalRelation] = {
    val analyzed = layers.queryExecution.analyzed
    val source: Option[(AnyRef, () => Seq[InternalRow])] = analyzed match {
      case local: LocalRelation => Some((layers.queryExecution, () => local.data))
      case _ =>
        cachedRelation(layers).flatMap { cached =>
          val entry = cached.cacheBuilder
          // under the entry's lock, so an unpersist cannot clear the
          // buffers between the check and the read
          val buffers = entry.synchronized {
            if (entry.isCachedColumnBuffersLoaded &&
                entry.sizeInBytesStats.value <= LocalMaxBytes)
              Some(entry.cachedColumnBuffers)
            else None
          }
          buffers.map(key => (key, () =>
            dataFrame(layers.sparkSession, cached).queryExecution.executedPlan.executeCollect().toSeq))
        }
    }
    source.map { case (key, rows) =>
      val output = analyzed.output :+ AttributeReference("__ordinal", IntegerType, nullable = false)()
      val numbered = driverCopies.synchronized {
        Option(driverCopies.get(key)).getOrElse {
          val withOrdinal = UnsafeProjection.create(output, output)
          val copy = rows().iterator.zipWithIndex.map { case (r, i) =>
            withOrdinal(new JoinedRow(r, InternalRow(i))).copy(): InternalRow
          }.toIndexedSeq
          driverCopies.put(key, copy)
          copy
        }
      }
      LocalRelation(output, numbered)
    }
  }

  /** Collect `layers`' driver copy now, so the first request does not pay
    * for it; true when requests over `layers` take the driver path. */
  def collectDriverCopy(layers: DataFrame): Boolean = driverCopy(layers).isDefined

  /** One page from a driver copy: the request's filters and distance as a
    * Filter + Project of `(ordinal, id, dist)` over the copy, folded into a
    * `LocalRelation` of candidates by Spark's `ConvertToLocalRelation` (no
    * job runs), ordered by Spark's (dist, id) ordering and sliced to
    * [skip, skip + limit); only the page's rows have their text fields
    * projected, fetched by ordinal. The plan is analysed over a row-less
    * twin of the copy and the rows go in after: every analyzer and
    * optimizer pass over a `LocalRelation` walks its rows, which made those
    * passes, not the request's own evaluation, the cost of a request. */
  private def localPage(spark: SparkSession, corpus: LocalRelation, filters: Seq[Column],
                        dist: Column, req: SearchRequest): LocalRelation = {
    val shape = LocalRelation(corpus.output)
    val filtered = filters.map(expression(spark, _)).reduceOption(And(_, _))
      .fold[LogicalPlan](shape)(Filter(_, shape))
    // the text fields are in the analysed list only to resolve them
    val Project(list, child) = dataFrame(spark, Project(
      TextFields.map(UnresolvedAttribute.quoted) :+ corpus.output.last :+
        Alias(expression(spark, dist), "dist")(), filtered)).queryExecution.analyzed: @unchecked
    val ranked = Project(Seq(list(TextFields.size), list.head, list.last), child)
      .transformUp { case _: LocalRelation => corpus }
    // the rule folds one operator a pass: the Filter, then the Project
    val (out, rows) = ConvertToLocalRelation(ConvertToLocalRelation(ranked)) match {
      case candidates: LocalRelation => (candidates.output, candidates.data.toArray)
      case unfolded => // an expression the rule cannot evaluate: run it as a query
        val exec = dataFrame(spark, unfolded).queryExecution.executedPlan
        (exec.output, exec.executeCollect())
    }
    java.util.Arrays.sort(rows, RowOrdering.create(
      Seq(SortOrder(out(2), Ascending), SortOrder(out(1), Ascending)), out))
    val text = list.take(TextFields.size).map(_.toAttribute)
    val toText = UnsafeProjection.create(text, corpus.output)
    val page = rows.slice(req.skip, math.min(rows.length.toLong, req.skip.toLong + req.limit).toInt)
    LocalRelation(text, page.map(r => toText(corpus.data(r.getInt(0))).copy()).toSeq)
  }

  /** Deep-skip pagination: a range-partitioned global sort plus
    * distributed ordinal assignment (`zipWithIndex` — one per-partition
    * count pass, order-preserving), then a filter to the requested
    * ordinal window. Total work is a full sort instead of top-k heaps —
    * more than the offset path for shallow pages, but no skip-sized state
    * ever concentrates on one executor or the driver: only `limit` rows
    * leave the cluster regardless of skip depth.
    */
  private def deepPage(ranked: DataFrame, req: SearchRequest): DataFrame = {
    val spark = ranked.sparkSession
    val sorted = ranked
      .orderBy(col("dist").asc, col("id").asc)
      .select(TextFields.map(col): _*)
    val page = sorted.rdd.zipWithIndex()
      .filter { case (_, i) => i >= req.skip && i < req.skip.toLong + req.limit }
      .map(_._1)
    spark.createDataFrame(page, sorted.schema)
  }

  /** Execute with the reference's error envelope: validation errors
    * propagate (HTTP-422 analogue); execution errors land in `error`.
    */
  def search(layers: DataFrame, req: SearchRequest): SearchResponse = {
    validate(req) // request-level errors propagate (HTTP-422 analogue)
    try {
      val rows = page(layers, req) match {
        case Left(local) => local.data.map { r =>
          def str(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
          LayerResult(str(0), str(1), str(2), str(3), str(4), str(5))
        }
        case Right(df) => df.collect().toSeq.map { r: Row =>
          LayerResult(r.getString(0), r.getString(1), r.getString(2),
            r.getString(3), r.getString(4), r.getString(5))
        }
      }
      SearchResponse(Some(rows), None)
    } catch {
      case e: Exception => SearchResponse(None, Some(e.getMessage))
    }
  }
}
