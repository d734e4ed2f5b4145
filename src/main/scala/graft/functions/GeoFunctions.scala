package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Minimal geospatial scalar-function layer — SURVEY §2.7 last row.
  *
  * The reference exposes ~70 ST_* functions
  * (`java/calcite/.../HeavyDBSqlOperatorTable.java:2382-3360`, exec
  * `QueryEngine/GeoOperators/` in /root/reference). This layer covers the
  * point/rectangle subset (constructors, accessors, planar + spherical
  * distance, DWithin, rectangular Contains) as pure Column compositions —
  * fully codegen'd, no UDF, no external geometry dependency. Polygon
  * topology (JTS-grade ST_Intersection etc.) is out of round-1 scope.
  *
  * Representation: POINT = struct(x double, y double) (lon/lat for
  * spherical ops, SRID 4326 semantics); rectangle = 4 bounds.
  */
object GeoFunctions {

  /** ST_Point(x, y) constructor. */
  def st_point(x: Column, y: Column): Column =
    struct(x.cast("double").as("x"), y.cast("double").as("y"))

  /** ST_X / ST_Y accessors. */
  def st_x(p: Column): Column = p.getField("x")
  def st_y(p: Column): Column = p.getField("y")

  /** ST_Distance between two points — planar euclidean (same-SRID
    * cartesian, as the reference computes for projected geometries).
    * A dedicated Catalyst node so GeoRangeJoinRule can recognize
    * distance predicates structurally (see GeomExpressions.STDistance).
    */
  def st_distance(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(STDistance(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** ST_DWithin(a, b, r) — planar. */
  def st_dwithin(a: Column, b: Column, r: Column): Column =
    st_distance(a, b) <= r

  /** ST_Distance on a sphere (haversine, meters, R=6371000) for lon/lat
    * points — the reference's geodesic path for GEOGRAPHY
    * (`QueryEngine/ExtensionFunctionsGeo.hpp` distance_in_meters).
    */
  def st_distance_sphere(a: Column, b: Column): Column = {
    val r = lit(6371000.0)
    val dLat = radians(st_y(b) - st_y(a))
    val dLon = radians(st_x(b) - st_x(a))
    val h = pow(sin(dLat / 2), 2.0) +
      cos(radians(st_y(a))) * cos(radians(st_y(b))) * pow(sin(dLon / 2), 2.0)
    lit(2.0) * r * asin(sqrt(h))
  }

  /** ST_Contains for an axis-aligned rectangle (bounding-box containment —
    * the grid-hash primitive behind the reference's bbox-intersect join,
    * `QueryEngine/JoinHashTable/BoundingBoxIntersectJoinHashTable.cpp`).
    */
  def st_contains_rect(xmin: Column, ymin: Column, xmax: Column,
      ymax: Column, p: Column): Column =
    st_x(p).between(xmin, xmax) && st_y(p).between(ymin, ymax)

  /** Geohash-style grid cell id for bucketed spatial joins: floor-quantize
    * both axes at `cellSize`. Equi-joining on the cell id (± neighbor
    * cells) then exact-filtering reproduces the reference's range-join
    * bucketing (`JoinHashTable/RangeJoinHashTable.cpp`) Spark-natively.
    */
  def st_grid_cell(p: Column, cellSize: Column): Column =
    struct(floor(st_x(p) / cellSize).cast("long").as("cx"),
      floor(st_y(p) / cellSize).cast("long").as("cy"))

  // --- polygon subset (Catalyst expressions, GeomExpressions.scala) ---

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => c, expression => e}

  /** Parse WKT POINT/LINESTRING/POLYGON(outer ring) → vertex array. */
  def st_geom_from_text(wkt: Column): Column = c(STPointsFromWkt(e(wkt)))

  /** Shoelace polygon area (planar). */
  def st_area(ring: Column): Column = c(STArea(e(ring)))

  /** Linestring length / ring perimeter. */
  def st_length(line: Column): Column = c(STLength(e(line), closed = false))
  def st_perimeter(ring: Column): Column = c(STLength(e(ring), closed = true))

  /** Ray-cast point-in-polygon. */
  def st_contains_poly(ring: Column, x: Column, y: Column): Column =
    c(STContainsPoint(e(ring), e(x.cast("double")), e(y.cast("double"))))

  /** Polygon-polygon intersection predicate. */
  def st_intersects(a: Column, b: Column): Column =
    c(STIntersectsPoly(e(a), e(b)))

  /** ST_NPOINTS. */
  def st_npoints(ring: Column): Column = size(ring)

  // --- round-4 breadth: transform / centroid / bounds / rings / dwithin ---

  /** WGS84 spheroid major radius — the web-mercator scale constant
    * (reference: `Geospatial/Utm.h` / 900913 conversions in
    * `QueryEngine/ExtensionFunctionsGeo.hpp` conv_4326_900913).
    */
  private val MercR = 6378137.0

  /** ST_Transform(p, 4326 → 900913): lon/lat degrees → web-mercator
    * meters. Pure Column composition — fully codegen'd, the one CRS pair
    * the reference special-cases (`HeavyDBSqlOperatorTable.java:2541`).
    */
  def st_transform_4326_900913(p: Column): Column =
    struct((radians(st_x(p)) * MercR).as("x"),
      (log(tan(lit(math.Pi / 4) + radians(st_y(p)) / 2)) * MercR).as("y"))

  /** ST_Transform(p, 900913 → 4326): inverse web mercator. */
  def st_transform_900913_4326(p: Column): Column =
    struct(degrees(st_x(p) / MercR).as("x"),
      degrees(atan(exp(st_y(p) / MercR)) * 2 - lit(math.Pi / 2)).as("y"))

  /** ST_XMin/XMax/YMin/YMax bounding-box accessors over a vertex array
    * (reference: bbox accessor family `HeavyDBSqlOperatorTable.java:3258+`).
    * Column compositions over the ring encoding — no custom node needed.
    */
  def st_xmin(ring: Column): Column =
    array_min(transform(ring, p => p.getField("x")))
  def st_xmax(ring: Column): Column =
    array_max(transform(ring, p => p.getField("x")))
  def st_ymin(ring: Column): Column =
    array_min(transform(ring, p => p.getField("y")))
  def st_ymax(ring: Column): Column =
    array_max(transform(ring, p => p.getField("y")))

  /** Area-weighted polygon centroid (Catalyst expr, GeomExpressions). */
  def st_centroid(ring: Column): Column = c(STCentroid(e(ring)))

  /** Full POLYGON WKT (outer + holes) → array of rings. */
  def st_polygon_from_text(wkt: Column): Column = c(STRingsFromWkt(e(wkt)))

  /** ST_NRINGS: ring count of a multi-ring polygon (1 + holes). */
  def st_nrings(rings: Column): Column = size(rings)

  /** Net area of a polygon with holes: outer shoelace minus hole
    * shoelaces — st_area mapped over the ring array inside `aggregate`
    * (higher-order fn; the custom expr evaluates fine under lambda vars).
    */
  def st_area_with_holes(rings: Column): Column =
    st_area(element_at(rings, 1)) -
      aggregate(slice(rings, lit(2), size(rings)), lit(0.0),
        (acc, r) => acc + st_area(r))

  /** Min distance between two polygon rings (0 when intersecting). */
  def st_distance_poly(a: Column, b: Column): Column =
    c(STDistancePoly(e(a), e(b)))

  /** Convex hull of a vertex array (CCW, no closing duplicate). */
  def st_convex_hull(ring: Column): Column = c(STConvexHull(e(ring)))

  def st_concave_hull(ring: Column, k: Column): Column =
    c(STConcaveHull(e(ring), e(k)))

  /** Point buffer as a regular n-gon (area 0.5·n·r²·sin(2π/n)). */
  def st_buffer_point(p: Column, r: Column, nSegs: Int = 32): Column =
    c(STBufferPoint(e(p), e(r.cast("double")), e(lit(nSegs))))

  /** Intersection ring of a simple polygon with a convex polygon. */
  def st_intersection(a: Column, b: Column): Column =
    c(STIntersectionConvex(e(a), e(b)))

  /** Overlay set-op areas via inclusion-exclusion over the convex clip. */
  def st_intersection_area(a: Column, b: Column): Column =
    st_area(st_intersection(a, b))
  def st_union_area(a: Column, b: Column): Column =
    st_area(a) + st_area(b) - st_intersection_area(a, b)
  def st_difference_area(a: Column, b: Column): Column =
    st_area(a) - st_intersection_area(a, b)

  /** Containment / disjointness predicates over polygon pairs. */
  def st_within(a: Column, b: Column): Column = c(STWithinPoly(e(a), e(b)))
  def st_disjoint(a: Column, b: Column): Column = !st_intersects(a, b)

  /** Douglas–Peucker simplification with tolerance eps. */
  def st_simplify(ring: Column, eps: Column): Column =
    c(STSimplify(e(ring), e(eps.cast("double"))))

  /** ST_NumGeometries over a hole-free MULTI* ring array. */
  def st_num_geometries(rings: Column): Column = size(rings)

  /** Total area of a MULTIPOLYGON (sum over component polygons). */
  def st_area_multi(rings: Column): Column =
    aggregate(rings, lit(0.0), (acc, r) => acc + st_area(r))

  /** Vertex accessors (1-based, like the reference's ST_PointN). */
  def st_point_n(ring: Column, n: Column): Column = element_at(ring, n)
  def st_start_point(ring: Column): Column = element_at(ring, 1)
  def st_end_point(ring: Column): Column = element_at(ring, -1)

  /** ST_DWithin over polygon geometries (not just points). */
  def st_dwithin_poly(a: Column, b: Column, r: Column): Column =
    st_distance_poly(a, b) <= r

  // --- equality / validity / SRID / max-distance family
  //     (`HeavyDBSqlOperatorTable.java`: ST_Equals, ST_IsEmpty,
  //      ST_IsValid, ST_SRID/ST_SetSRID, ST_MaxDistance,
  //      ST_DFullyWithin) ---

  /** ST_Equals as canonical vertex-set equality: two geometries in the
    * ring encoding are equal iff their sorted vertex arrays match
    * (rotation- and direction-insensitive). Exact-geometry equality, not
    * full OGC spatial equality (collinear redundant vertices would need
    * a normalization pass — same caveat the reference's non-GEOS paths
    * carry).
    */
  def st_equals(a: Column, b: Column): Column = {
    // Drop the closing duplicate first — rotation moves which vertex is
    // doubled, and equality must be rotation-insensitive.
    def canonical(g: Column) =
      when(size(g) > 1 && (element_at(g, 1) === element_at(g, -1)),
        slice(g, lit(1), size(g) - 1)).otherwise(g)
    array_sort(canonical(a)) === array_sort(canonical(b))
  }

  /** ST_IsEmpty: no vertices. */
  def st_is_empty(g: Column): Column = size(g) === 0

  /** ST_IsValid (basic): ≥3 distinct vertices and nonzero area — the
    * degenerate/self-cancelling cases OGC validity always rejects.
    */
  def st_is_valid(ring: Column): Column =
    size(array_distinct(ring)) >= 3 && st_area(ring) > 0.0

  /** ST_SetSRID / ST_SRID: the SRID travels as a struct wrapper (the
    * reference stores it in column metadata; per-value wrapping is the
    * schema-free equivalent).
    */
  def st_set_srid(g: Column, srid: Column): Column =
    struct(srid.cast("int").as("srid"), g.as("geom"))
  def st_srid(gs: Column): Column = gs.getField("srid")
  def st_geom_of(gs: Column): Column = gs.getField("geom")

  /** ST_MaxDistance: maximum vertex-to-vertex distance between two
    * geometries (nested higher-order aggregate — stays in the plan, no
    * UDF).
    */
  def st_max_distance(a: Column, b: Column): Column =
    aggregate(a, lit(0.0), (acc, pa) =>
      greatest(acc, aggregate(b, lit(0.0), (acc2, pb) =>
        greatest(acc2, sqrt(
          pow(pa.getField("x") - pb.getField("x"), 2.0) +
            pow(pa.getField("y") - pb.getField("y"), 2.0))))))

  /** ST_DFullyWithin: every vertex pair within r ⇔ max distance ≤ r. */
  def st_dfully_within(a: Column, b: Column, r: Column): Column =
    st_max_distance(a, b) <= r

  /** Register the geometry functions for SQL use. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(FunctionIdentifier("st_geomfromtext"),
      new ExpressionInfo("graft", "st_geomfromtext"),
      ex => STPointsFromWkt(ex.head))
    reg.registerFunction(FunctionIdentifier("st_area"),
      new ExpressionInfo("graft", "st_area"),
      ex => STArea(ex.head))
    reg.registerFunction(FunctionIdentifier("st_length"),
      new ExpressionInfo("graft", "st_length"),
      ex => STLength(ex.head, closed = false))
    reg.registerFunction(FunctionIdentifier("st_perimeter"),
      new ExpressionInfo("graft", "st_perimeter"),
      ex => STLength(ex.head, closed = true))
    reg.registerFunction(FunctionIdentifier("st_contains"),
      new ExpressionInfo("graft", "st_contains"),
      ex => STContainsPoint(ex(0), ex(1), ex(2)))
    reg.registerFunction(FunctionIdentifier("st_intersects"),
      new ExpressionInfo("graft", "st_intersects"),
      ex => STIntersectsPoly(ex(0), ex(1)))
    reg.registerFunction(FunctionIdentifier("st_centroid"),
      new ExpressionInfo("graft", "st_centroid"),
      ex => STCentroid(ex.head))
    reg.registerFunction(FunctionIdentifier("st_polygonfromtext"),
      new ExpressionInfo("graft", "st_polygonfromtext"),
      ex => STRingsFromWkt(ex.head))
    reg.registerFunction(FunctionIdentifier("st_distance_poly"),
      new ExpressionInfo("graft", "st_distance_poly"),
      ex => STDistancePoly(ex(0), ex(1)))
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
      import org.apache.spark.sql.types.{DoubleType, IntegerType}
      reg.registerFunction(FunctionIdentifier("st_convexhull"),
        new ExpressionInfo("graft", "st_convexhull"),
        ex => STConvexHull(ex.head))
      reg.registerFunction(FunctionIdentifier("st_buffer"),
        new ExpressionInfo("graft", "st_buffer"),
        ex => STBufferPoint(ex(0), Cast(ex(1), DoubleType),
          ex.lift(2).map(Cast(_, IntegerType))
            .getOrElse(Literal(32))))
      reg.registerFunction(FunctionIdentifier("st_intersection"),
        new ExpressionInfo("graft", "st_intersection"),
        ex => STIntersectionConvex(ex(0), ex(1)))
      reg.registerFunction(FunctionIdentifier("st_within"),
        new ExpressionInfo("graft", "st_within"),
        ex => STWithinPoly(ex(0), ex(1)))
      reg.registerFunction(FunctionIdentifier("st_simplify"),
        new ExpressionInfo("graft", "st_simplify"),
        ex => STSimplify(ex(0), Cast(ex(1), DoubleType)))
      reg.registerFunction(FunctionIdentifier("st_concavehull"),
        new ExpressionInfo("graft", "st_concavehull"),
        ex => STConcaveHull(ex(0),
          ex.lift(1).map(Cast(_, IntegerType)).getOrElse(Literal(3))))
      // H3 family (reference HeavyDBSqlOperatorTable.java:346-348):
      // the custom-Expression pair plus the bit-math compositions.
      reg.registerFunction(FunctionIdentifier("h3_celltopoint"),
        new ExpressionInfo("graft", "h3_celltopoint"),
        ex => H3CellToPoint(ex.head))
      reg.registerFunction(FunctionIdentifier("h3_celltoboundary_polygon"),
        new ExpressionInfo("graft", "h3_celltoboundary_polygon"),
        ex => H3CellToBoundary(ex.head))
      reg.registerFunction(FunctionIdentifier("h3_pointtocell"),
        new ExpressionInfo("graft", "h3_pointtocell"),
        ex => H3PointToCell(ex(0), Cast(ex(1), IntegerType)))
    }
    // Column-composition functions register through the eager bridge:
    // the composition expands into the same codegen'd built-in tree the
    // Column API builds.
    locally {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column => cc, expressionEager => ee}
      import org.apache.spark.sql.catalyst.expressions.Expression
      def registerCols(name: String,
          f: Seq[Column] => Column): Unit = {
        // Spark 4.1 ships its own st_srid/st_setsrid built-ins; ours
        // intentionally replace them (reference SRID-struct semantics).
        // Drop first so the override is silent, not a warning.
        reg.dropFunction(FunctionIdentifier(name))
        reg.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo("graft", name),
          (ex: Seq[Expression]) => ee(f(ex.map(cc))))
      }
      registerCols("st_equals", ex => st_equals(ex(0), ex(1)))
      registerCols("st_isempty", ex => st_is_empty(ex(0)))
      registerCols("st_isvalid", ex => st_is_valid(ex(0)))
      registerCols("st_setsrid", ex => st_set_srid(ex(0), ex(1)))
      registerCols("st_srid", ex => st_srid(ex(0)))
      registerCols("st_maxdistance", ex => st_max_distance(ex(0), ex(1)))
      registerCols("st_dfullywithin",
        ex => st_dfully_within(ex(0), ex(1), ex(2)))
      registerCols("h3_getresolution",
        ex => H3Functions.h3_getresolution(ex(0)))
      registerCols("h3_isvalidcell",
        ex => H3Functions.h3_isvalidcell(ex(0)))
      registerCols("h3_celltostring",
        ex => H3Functions.h3_celltostring(ex(0)))
      registerCols("h3_stringtocell",
        ex => H3Functions.h3_stringtocell(ex(0)))
      registerCols("h3_lonlattocell",
        ex => H3Functions.h3_lonlattocell(ex(0), ex(1), ex(2)))
      registerCols("h3_celltolon",
        ex => H3Functions.h3_celltolon(ex(0)))
      registerCols("h3_celltolat",
        ex => H3Functions.h3_celltolat(ex(0)))
    }
  }
}
