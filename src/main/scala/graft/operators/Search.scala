package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{cachedRelation, column, dataFrame, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, AttributeReference, BasePredicate, BoundReference, Expression, GenericInternalRow, JoinedRow, Predicate, RowOrdering, SortOrder, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

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
  * Two physical paths over the same kernels:
  *  - a small corpus (a `LocalRelation`, or a materialized cache under
  *    [[LocalMaxBytes]]) is answered on the driver from a copy of its rows.
  *    The query has one shape in four variants (type filter yes/no x point
  *    yes/no); each is analysed and bound once per corpus, with the probe,
  *    the type list and the point as a parameter row. A request fills that
  *    row and scans the copy through Spark's codegen'd predicate and
  *    projection, keeping the best skip+limit candidates under Spark's
  *    (dist, id) ordering in a bounded heap. No job and no Catalyst pass
  *    runs, so a request costs its scan;
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
  def plan(layers: DataFrame, req: SearchRequest): DataFrame = {
    validate(req) // request-level errors propagate (HTTP-422 analogue)
    page(layers, req).fold(dataFrame(layers.sparkSession, _), identity)
  }

  /** A validated request's page: computed on the driver when `layers` has a
    * driver copy, else the distributed plan that computes it. */
  private def page(layers: DataFrame, req: SearchRequest): Either[LocalRelation, DataFrame] = {
    // Locale.ROOT: Spark's lower() is locale-independent, so the client-side
    // probe lowering must be too (default-locale toLowerCase turns 'I' into
    // a dotless 'ı' under a Turkish JVM and silently matches nothing).
    val probes = req.typeFilter.getOrElse(Nil).filter(_.nonEmpty)
      .map(_.toLowerCase(java.util.Locale.ROOT))
    val point = req.inputPoint.map(_.to4326)
    driverCopy(layers) match {
      case Some(corpus) => Left(corpus.page(layers.sparkSession, req, probes, point))
      case None =>
        val filters =
          (if (probes.nonEmpty) Seq(lower(col("type")).isin(probes: _*)) else Nil) ++
            point.map(p => st_intersects(col("geom"), st_point(lit(p.longitude), lit(p.latitude))))
        val ranked = filters.foldLeft(layers)(_.filter(_))
          .withColumn("dist", cosine_distance(col("embeddings"), vector_lit(req.probe)))
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
    * driver copy. Measured on 4 cores (CHANGES.md): the distributed plan
    * over the cache costs 21-50 ms a request at any size tried, and a
    * request from the prepared driver copy, with half the requests carrying
    * a type filter and a third a point, ~0.3 us a row at 64 dims and
    * ~1.1 us at 1024, so they cross at ~61 MB of cache (64 dims), over
    * 40 MB (256) and ~145 MB (1024). Re-measured since point predicates
    * reject on the envelope, over the search_small corpus and requests
    * (2,000 rows, half with a type filter, half with a point), a request
    * costs ~0.16 us a row at 64 dims and ~0.47 us at 1024 (0.22 and
    * 0.73-0.81 us before), which moves the crossovers up. The cap sits at
    * about half the lowest crossover; a copy that size is under 1% of the
    * serving JVM's default 4 GiB heap. */
  val LocalMaxBytes: Long = 32L << 20

  /** The driver copy of each small corpus, keyed weakly on what owns it: a
    * cache entry's buffers (`unpersist` drops the entry, so a later request
    * over the same Dataset goes back to the distributed plan and the copy,
    * with its prepared shapes, becomes garbage with the buffers) or, for a
    * `LocalRelation` corpus, its Dataset's QueryExecution. Both keys
    * compare by identity. */
  private val driverCopies = new java.util.WeakHashMap[AnyRef, DriverCopy]()

  /** The driver copy requests over `layers` are answered from: the rows of
    * `layers` itself when it is a `LocalRelation`, else of its cache entry
    * when that is fully materialized and under [[LocalMaxBytes]] (collected
    * with one job). The rows are copied once per corpus, each with its
    * ordinal appended as a last, non-null int column, so a page can rank
    * `(ordinal, id, dist)` alone and fetch its text by ordinal. */
  private def driverCopy(layers: DataFrame): Option[DriverCopy] = {
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
      driverCopies.synchronized {
        Option(driverCopies.get(key)).getOrElse {
          val output = analyzed.output :+ AttributeReference("__ordinal", IntegerType, nullable = false)()
          val withOrdinal = UnsafeProjection.create(output, output)
          val copy = new DriverCopy(output, rows().iterator.zipWithIndex.map { case (r, i) =>
            withOrdinal(new JoinedRow(r, InternalRow(i))).copy(): InternalRow
          }.toArray)
          driverCopies.put(key, copy)
          copy
        }
      }
    }
  }

  /** Collect `layers`' driver copy now, so the first request does not pay
    * for it; true when requests over `layers` take the driver path. */
  def collectDriverCopy(layers: DataFrame): Boolean = driverCopy(layers).isDefined

  /** A corpus's numbered rows and the request shapes prepared over them.
    * The query has one shape in four variants (type filter or not, point
    * or not); each is analysed and bound once, on its first request, over
    * a parameter row joined to each corpus row. */
  private final class DriverCopy(output: Seq[Attribute], rows: Array[InternalRow]) {
    private val shapes = new Array[Shape](4)

    def page(spark: SparkSession, req: SearchRequest, probes: Seq[String],
             point: Option[Point]): LocalRelation = {
      val variant = (if (probes.nonEmpty) 1 else 0) + (if (point.isDefined) 2 else 0)
      val shape = synchronized {
        if (shapes(variant) == null)
          shapes(variant) = new Shape(spark, output, probes.nonEmpty, point.isDefined)
        shapes(variant)
      }
      shape.scans.get.page(rows, req, probes, point)
    }
  }

  /** One prepared variant: the filter and the `(ordinal, id, dist)` ranking
    * as bound expressions over `params ++ corpus`, where the parameter row
    * holds the probe (`array<float>`), the lowered type list
    * (`array<string>`) and the point's lon/lat. Spark's codegen'd
    * predicates and projections are mutable, so each thread scans through
    * its own instances. */
  private final class Shape(spark: SparkSession, val output: Seq[Attribute],
                            types: Boolean, point: Boolean) {
    private val params = Seq(
      AttributeReference("__probe", ArrayType(FloatType, containsNull = false), nullable = false)(),
      AttributeReference("__types", ArrayType(StringType, containsNull = false), nullable = false)(),
      AttributeReference("__lon", DoubleType, nullable = false)(),
      AttributeReference("__lat", DoubleType, nullable = false)())
    val input: Seq[Attribute] = params ++ output

    // analysed once, over a row-less relation of the parameters and the
    // corpus; the text fields are in the list to resolve them by name
    private val Project(list, child) = {
      val param = params.map(column)
      val filters =
        (if (types) Seq(array_contains(param(1), lower(col("type")))) else Nil) ++
          (if (point) Seq(st_intersects(col("geom"), st_point(param(2), param(3)))) else Nil)
      val shape = LocalRelation(input)
      val filtered = filters.map(expression(spark, _)).reduceOption(And(_, _))
        .fold[LogicalPlan](shape)(Filter(_, shape))
      dataFrame(spark, Project(TextFields.map(UnresolvedAttribute.quoted) :+ output.last :+
        Alias(expression(spark, cosine_distance(col("embeddings"), param(0))), "dist")(),
        filtered)).queryExecution.analyzed
    }: @unchecked
    val condition: Option[Expression] = child match {
      case Filter(c, _) => Some(c)
      case _ => None
    }
    val text: Seq[Attribute] = list.take(TextFields.size).map(_.toAttribute)
    val rank: Seq[Expression] = Seq(list(TextFields.size), list.head, list.last)

    val scans: ThreadLocal[Scan] = ThreadLocal.withInitial(() => new Scan(this))
  }

  /** A thread's instances of one prepared shape, and the parameter row
    * they read. It keeps no reference to the shape, whose thread-local is
    * then collected with the copy. */
  private final class Scan(shape: Shape) {
    private val text = shape.text
    private val params = new GenericInternalRow(4)
    private val joined = new JoinedRow(params, null)
    private val keep: BasePredicate = shape.condition.map { c =>
      val p = Predicate.create(c, shape.input); p.initialize(0); p
    }.orNull
    private val rank = UnsafeProjection.create(shape.rank, shape.input)
    private val ranked = shape.rank.zipWithIndex.map { case (e, i) =>
      BoundReference(i, e.dataType, e.nullable) }
    // Spark's (dist, id) order; the ordinal settles rows equal on both, as
    // a stable sort of the scan order would
    private val order = RowOrdering.create(
      Seq(ranked(2), ranked(1), ranked(0)).map(SortOrder(_, Ascending)), Nil)
    private val toText = UnsafeProjection.create(shape.text, shape.output)

    /** Fill the parameter row, scan the copy keeping the best
      * `skip + limit` candidates in a bounded heap, and project the text
      * of the page's rows, fetched by ordinal. */
    def page(rows: Array[InternalRow], req: SearchRequest, probes: Seq[String],
             point: Option[Point]): LocalRelation = {
      params.update(0, UnsafeArrayData.fromPrimitiveArray(req.probe))
      params.update(1, new GenericArrayData(probes.map(UTF8String.fromString).toArray[Any]))
      point.foreach { p => params.setDouble(2, p.longitude); params.setDouble(3, p.latitude) }
      val k = math.min(req.skip.toLong + req.limit, rows.length.toLong).toInt
      // the worst kept candidate on top
      val heap = new java.util.PriorityQueue[InternalRow](math.max(k, 1), order.reverse)
      var i = 0
      while (i < rows.length) {
        joined.withRight(rows(i))
        if (keep == null || keep.eval(joined)) {
          val r = rank(joined)
          if (heap.size < k) heap.add(r.copy())
          else if (order.compare(r, heap.peek) < 0) { heap.poll(); heap.add(r.copy()) }
        }
        i += 1
      }
      val best = heap.toArray(new Array[InternalRow](0))
      java.util.Arrays.sort(best, order)
      LocalRelation(text,
        best.drop(req.skip).map(r => toText(rows(r.getInt(0))).copy(): InternalRow).toSeq)
    }
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
