"""Extensibility surfaces: custom WKT shape parser (ParseShapeByType
analog, WktCustomShapeParserTest.cs:84-113) and spark.udf.register of
the st_* kernel UDFs for SQL text queries."""
import pytest

from spatial4n_spark.kernels import wkt as W


def test_custom_shape_parser_round():
    def parse_custom(st, geo):
        # reference test shape: "custom(...)" with an empty body
        st.expect("(")
        st.expect(")")
        d = W._empty()
        d["kind"] = 99
        return d

    W.register_shape_parser("CUSTOMSHAPE", parse_custom)
    try:
        rec = W.parse_shape("CUSTOMSHAPE ( )")
        assert rec["kind"] == 99
        # built-in grammar is untouched
        assert W.parse_shape("POINT (1 2)")["kind"] == W.KIND_POINT
        # batch path consults the registry too
        recs, errs = W.parse_wkt_batch(["CUSTOMSHAPE()", "POINT (3 4)"])
        assert errs == [None, None]
        assert recs[0]["kind"] == 99 and recs[1]["x"] == 3.0
    finally:
        W.unregister_shape_parser("CUSTOMSHAPE")
    # unregistered -> back to an error
    _, errs = W.parse_wkt_batch(["CUSTOMSHAPE()"])
    assert errs[0] is not None


def test_custom_parser_can_fall_through():
    def maybe(st, geo):
        return None  # decline -> built-in grammar runs

    W.register_shape_parser("POINT", maybe)
    try:
        assert W.parse_shape("POINT (5 6)")["x"] == 5.0
    finally:
        W.unregister_shape_parser("POINT")


def test_sql_function_registration(spark):
    from spatial4n_spark import functions as SF
    names = SF.register_sql_functions(spark)
    assert "st_from_wkt" in names
    spark.createDataFrame([("POINT (10.5 -3.25)",)], ["wkt"]) \
        .createOrReplaceTempView("shapes_sql_test")
    row = spark.sql("""
        SELECT st_from_wkt(wkt).x AS x, st_from_wkt(wkt).y AS y,
               st_buffer(st_from_wkt(wkt), 2.5).radius AS r
        FROM shapes_sql_test""").first()
    assert (row.x, row.y, row.r) == (10.5, -3.25, 2.5)

    # every registered shape function, called with whole shape structs
    spark.createDataFrame(
        [("POLYGON ((0 0, 4 0, 2 4, 0 0))", "POLYGON ((1 1, 5 1, 3 5, 1 1))",
          "ENVELOPE (1, 2, 3, 1)", "BUFFER(POINT (2 1), 0.5)")],
        "pa string, pb string, r string, c string") \
        .createOrReplaceTempView("shapes_sql_pairs")
    exprs = {
        "st_from_latlon": "st_from_latlon('-3.25, 10.5').x",
        "st_from_legacy": "st_from_legacy('10.5 -3.25').y",
        "st_to_binary": "length(st_to_binary(a)) > 0",
        "st_from_binary": "st_from_binary(st_to_binary(a)).kind",
        "st_to_wkt": "st_to_wkt(st_from_wkt(r))",
        "st_center": "st_center(st_from_wkt(r)).x",
        "st_area_geo": "st_area_geo(a) > 0",
        "st_area_euclid": "st_area_euclid(a)",
        "st_relate_shape_point": "st_relate_shape_point(a, 2.0, 1.0)",
        "st_relate_polygon_polygon": "st_relate_polygon_polygon(a, b)",
        "st_intersection_area": "st_intersection_area(a, b) > 0",
        "st_intersection": "st_intersection(a, b).kind",
        "st_difference": "st_difference(a, b).kind",
        "st_union": "st_union(a, b).kind",
        "st_sym_difference": "st_sym_difference(a, b).error IS NULL",
        "st_overlay_measure": "st_overlay_measure(a, b).a_area",
        "st_relate_polygon_rect":
            "st_relate_polygon_rect(a, st_from_wkt(r))",
        "st_relate_polygon_circle":
            "st_relate_polygon_circle(a, st_from_wkt(c))",
        "st_simplify": "size(st_simplify(a, 0.1).xs)",
    }
    assert set(exprs) | {"st_from_wkt", "st_buffer"} == set(names)
    got = spark.sql(f"""
        SELECT {", ".join(f"{e} AS {n}" for n, e in exprs.items())}
        FROM (SELECT st_from_wkt(pa) AS a, st_from_wkt(pb) AS b, r, c
              FROM shapes_sql_pairs)""").first().asDict()
    assert got == {
        "st_from_latlon": 10.5, "st_from_legacy": -3.25,
        "st_to_binary": True, "st_from_binary": 7,
        "st_to_wkt": "ENVELOPE (1, 2, 3, 1)",
        "st_center": 1.5, "st_area_geo": True, "st_area_euclid": 8.0,
        "st_relate_shape_point": 2, "st_relate_polygon_polygon": 4,
        "st_intersection_area": True, "st_intersection": 7,
        "st_difference": 7, "st_union": 7, "st_sym_difference": True,
        "st_overlay_measure": 8.0, "st_relate_polygon_rect": 4,
        "st_relate_polygon_circle": 2, "st_simplify": 4}
