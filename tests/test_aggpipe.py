"""Mongo aggregation-pipeline compiler semantics (plans/aggpipe.py)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from mongo_hadoop_spark.plans.aggpipe import aggregate, expr_to_col, match_to_col


@pytest.fixture()
def people(spark):
    return spark.createDataFrame(
        [(1, "ann", 34, 10.5, ["a", "b"]),
         (2, "bob", None, 20.0, []),
         (3, "cy", 41, None, None),
         (4, "dee", 34, 7.25, ["c"])],
        "id long, name string, age int, bal double, tags array<string>",
    )


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_match_null_semantics(people):
    # $ne matches null/missing like the server
    got = aggregate(people, [{"$match": {"age": {"$ne": 34}}},
                             {"$sort": {"id": 1}},
                             {"$project": {"id": 1}}])
    assert rows(got) == [(2,), (3,)]
    # comparisons are null-rejecting
    got = aggregate(people, [{"$match": {"age": {"$gte": 0}}},
                             {"$sort": {"id": 1}}, {"$project": {"id": 1}}])
    assert rows(got) == [(1,), (3,), (4,)]
    # {field: null} matches null
    got = aggregate(people, [{"$match": {"bal": None}}, {"$project": {"id": 1}}])
    assert rows(got) == [(3,)]
    # $in/$nin with null members
    got = aggregate(people, [{"$match": {"age": {"$in": [41, None]}}},
                             {"$sort": {"id": 1}}, {"$project": {"id": 1}}])
    assert rows(got) == [(2,), (3,)]
    got = aggregate(people, [{"$match": {"age": {"$nin": [34, None]}}},
                             {"$project": {"id": 1}}])
    assert rows(got) == [(3,)]


def test_match_logical_and_expr(people):
    got = aggregate(people, [
        {"$match": {"$or": [{"name": "ann"}, {"$expr": {"$gt": ["$bal", 15]}}]}},
        {"$sort": {"id": 1}}, {"$project": {"id": 1}},
    ])
    assert rows(got) == [(1,), (2,)]


def test_group_compound_id_and_accumulators(people):
    got = aggregate(people, [
        {"$group": {"_id": {"a": "$age"}, "n": {"$sum": 1},
                    "names": {"$addToSet": "$name"}}},
        {"$sort": {"n": -1, "names": 1}},
    ])
    out = [(r["_id"]["a"], r["n"], r["names"]) for r in got.collect()]
    assert out[0] == (34, 2, ["ann", "dee"])  # addToSet is sorted


def test_group_null_id(people):
    got = aggregate(people, [
        {"$group": {"_id": None, "total": {"$sum": "$id"},
                    "avg_age": {"$avg": "$age"}}},
    ])
    r = got.collect()[0]
    assert r["_id"] is None and r["total"] == 10
    assert abs(r["avg_age"] - (34 + 41 + 34) / 3) < 1e-9


def test_unwind_variants(people):
    got = aggregate(people, [{"$unwind": "$tags"}, {"$sort": {"id": 1, "tags": 1}},
                             {"$project": {"id": 1, "tags": 1}}])
    assert rows(got) == [(1, "a"), (1, "b"), (4, "c")]
    # preserveNullAndEmptyArrays keeps rows 2 (empty) and 3 (null)
    got = aggregate(people, [
        {"$unwind": {"path": "$tags", "preserveNullAndEmptyArrays": True}},
        {"$project": {"id": 1}},
    ])
    assert sorted(r[0] for r in rows(got)) == [1, 1, 2, 3, 4]
    # includeArrayIndex
    got = aggregate(people, [
        {"$unwind": {"path": "$tags", "includeArrayIndex": "i"}},
        {"$match": {"tags": "b"}}, {"$project": {"id": 1, "i": 1}},
    ])
    assert rows(got) == [(1, 1)]


def test_lookup_no_match_yields_empty_array(spark, people):
    pets = spark.createDataFrame([(1, "rex"), (1, "tom"), (3, "ivy")],
                                 "owner long, pet string")
    got = aggregate(people, [
        {"$lookup": {"from": "pets", "localField": "id",
                     "foreignField": "owner", "as": "pets"}},
        {"$addFields": {"n_pets": {"$size": "$pets"}}},
        {"$sort": {"id": 1}}, {"$project": {"id": 1, "n_pets": 1}},
    ], tables={"pets": pets})
    assert rows(got) == [(1, 2), (2, 0), (3, 1), (4, 0)]


def test_project_exclude_addfields_cond(people):
    got = aggregate(people, [
        {"$addFields": {"senior": {"$cond": [{"$gte": ["$age", 40]}, 1, 0]}}},
        {"$unset": ["tags", "bal"]},
        {"$match": {"senior": 1}},
    ])
    assert got.columns == ["id", "name", "age", "senior"]
    assert rows(got.select("name")) == [("cy",)]


def test_project_excludes_id_next_to_inclusions_and_computed(spark):
    """`_id` is the one field an inclusion or computed $project may
    exclude (the server rule filters.project follows), and computed
    fields read the stage's input — including the excluded `_id`."""
    df = spark.createDataFrame([((1, "a"), "x", 10)],
                               "_id struct<g:long, h:string>, s string, n long")
    got = aggregate(df, [{"$project": {"_id": 0, "s": 1}}])
    assert got.columns == ["s"] and rows(got) == [("x",)]
    got = aggregate(df, [{"$project": {"_id": 0, "g": "$_id.g"}}])
    assert got.columns == ["g"] and rows(got) == [(1,)]
    got = aggregate(df, [{"$project": {"_id": 0, "s": 1, "h": "$_id.h"}}])
    assert got.columns == ["s", "h"] and rows(got) == [("x", "a")]
    # exclusion projections still compute from the input, not from the
    # pruned frame
    got = aggregate(df, [{"$project": {"n": 0, "m": {"$add": ["$n", 1]}}}])
    assert got.columns == ["_id", "s", "m"] and rows(got.select("m")) == [(11,)]
    with pytest.raises(ValueError, match="cannot mix"):
        aggregate(df, [{"$project": {"_id": 0, "n": 0, "s": 1}}])


def test_skip_limit_count_replaceroot(spark, people):
    got = aggregate(people, [{"$sort": {"id": 1}}, {"$skip": 1}, {"$limit": 2},
                             {"$project": {"id": 1}}])
    assert rows(got) == [(2,), (3,)]
    got = aggregate(people, [{"$match": {"age": 34}}, {"$count": "n"}])
    assert rows(got) == [(2,)]
    nested = spark.createDataFrame([((1, "x"),)], "doc struct<a: long, b: string>")
    got = aggregate(nested, [{"$replaceRoot": {"newRoot": "$doc"}}])
    assert got.columns == ["a", "b"] and rows(got) == [(1, "x")]


def test_string_and_conversion_exprs(people):
    got = aggregate(people, [
        {"$match": {"id": 1}},
        {"$project": {"u": {"$toUpper": "$name"},
                      "l": {"$strLenCP": "$name"},
                      "s": {"$substrCP": ["$name", 1, 2]},
                      "c": {"$concat": ["$name", "-", {"$toString": "$id"}]},
                      "d": {"$toLong": {"$multiply": ["$bal", 2]}}}},
    ])
    assert rows(got) == [("ANN", 3, "nn", "ann-1", 21)]


def test_unsupported_stage_and_expr_raise(people):
    with pytest.raises(ValueError, match="unsupported pipeline stage"):
        aggregate(people, [{"$collStats": {}}])
    with pytest.raises(ValueError, match="unsupported aggregation expression"):
        expr_to_col({"$meta": "indexKey"})
    with pytest.raises(ValueError, match="unsupported query operator"):
        match_to_col({"a": {"$where": "this.a > 1"}})


def test_bucket_default_and_error(spark):
    df = spark.createDataFrame([(i,) for i in (1, 5, 9, 15)], "x long")
    got = aggregate(df, [{"$bucket": {
        "groupBy": "$x", "boundaries": [0, 5, 10], "default": -99,
    }}, {"$sort": {"_id": 1}}])
    assert rows(got) == [(-99, 1), (0, 1), (5, 2)]
    with pytest.raises(ValueError, match="outside boundaries"):
        aggregate(df, [{"$bucket": {"groupBy": "$x",
                                    "boundaries": [0, 5, 10]}}]).collect()


def test_set_window_fields_rank_shift(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 5.0), ("b", 4, 2.0)],
        "grp string, seq long, v double",
    )
    got = aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": "$grp",
            "sortBy": {"v": -1, "seq": 1},
            "output": {
                "r": {"$rank": {}},
                "dr": {"$denseRank": {}},
                "rn": {"$documentNumber": {}},
                "nxt": {"$shift": {"output": "$seq", "by": 1, "default": -1}},
                "cum": {"$sum": "$v",
                        "window": {"documents": ["unbounded", "current"]}},
            },
        }},
        {"$sort": {"grp": 1, "rn": 1}},
        {"$project": {"grp": 1, "seq": 1, "r": 1, "dr": 1, "rn": 1,
                      "nxt": 1, "cum": 1}},
    ])
    # seq breaks the v tie in the sort, so rank == denseRank == rn here
    assert rows(got) == [
        ("a", 1, 1, 1, 1, 2, 10.0),
        ("a", 2, 2, 2, 2, 3, 20.0),
        ("a", 3, 3, 3, 3, -1, 25.0),
        ("b", 4, 1, 1, 1, -1, 2.0),
    ]


def test_set_window_fields_global_window(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    got = aggregate(df, [
        {"$setWindowFields": {
            "sortBy": {"x": 1},
            "output": {"total": {"$sum": "$x",
                                 "window": {"documents": ["unbounded", "unbounded"]}},
                       "rn": {"$documentNumber": {}}},
        }},
        {"$sort": {"x": 1}}, {"$project": {"x": 1, "total": 1, "rn": 1}},
    ])
    assert rows(got) == [(1, 6, 1), (2, 6, 2), (3, 6, 3)]


def test_out_stage_writes_collection(spark, people, tmp_path):
    from mongo_hadoop_spark.store import DocumentStore

    store = str(tmp_path / "aggdb")
    aggregate(people, [
        {"$match": {"age": {"$gte": 0}}},
        {"$project": {"id": 1, "name": 1}},
        {"$out": "adults"},
    ], store_path=store)
    docs = DocumentStore(store).collection("adults").find(sort=[("id", 1)])
    assert [d["name"] for d in docs] == ["ann", "cy", "dee"]
    # $out replaces: running again with a narrower match shrinks the coll
    aggregate(people, [{"$match": {"id": 1}}, {"$project": {"id": 1}},
                       {"$out": "adults"}], store_path=store)
    assert len(DocumentStore(store).collection("adults").find()) == 1


def test_merge_stage_upserts(spark, people, tmp_path):
    from mongo_hadoop_spark.store import DocumentStore

    store = str(tmp_path / "mergedb")
    base = aggregate(people, [{"$project": {"id": 1, "name": 1}},
                              {"$out": "profiles"}], store_path=store)
    assert base is not None
    updates = spark.createDataFrame([(1, "ANN"), (9, "zoe")], "id long, name string")
    aggregate(updates, [
        {"$merge": {"into": "profiles", "on": "id",
                    "whenMatched": "replace", "whenNotMatched": "insert"}},
    ], store_path=store)
    docs = {d["id"]: d["name"] for d in DocumentStore(store).collection("profiles").find()}
    assert docs == {1: "ANN", 2: "bob", 3: "cy", 4: "dee", 9: "zoe"}


def test_out_not_last_or_no_store_raises(people, tmp_path):
    with pytest.raises(ValueError, match="last pipeline stage"):
        aggregate(people, [{"$out": "x"}, {"$match": {}}],
                  store_path=str(tmp_path))
    with pytest.raises(ValueError, match="store_path"):
        aggregate(people, [{"$out": "x"}])


def test_facet_single_row_multi_array(people):
    got = aggregate(people, [
        {"$facet": {
            "by_age": [{"$match": {"age": {"$gte": 0}}},
                       {"$group": {"_id": "$age", "n": {"$sum": 1}}}],
            "top_bal": [{"$match": {"bal": {"$gte": 0}}},
                        {"$sort": {"bal": -1}}, {"$limit": 2},
                        {"$project": {"name": 1}}],
        }},
    ])
    assert got.count() == 1
    r = got.collect()[0]
    assert sorted((x["_id"], x["n"]) for x in r["by_age"]) == [(34, 2), (41, 1)]
    assert sorted(x["name"] for x in r["top_bal"]) == ["ann", "bob"]
    with pytest.raises(ValueError, match="at least one"):
        aggregate(people, [{"$facet": {}}])


def test_graph_lookup_bfs(spark):
    # org chart: 1 <- 2 <- 3, 1 <- 4; lookup reports-transitive-closure
    emp = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (4, 1)], "eid long, mgr long")
    got = aggregate(emp, [
        {"$graphLookup": {"from": "emp", "startWith": "$eid",
                          "connectFromField": "eid",
                          "connectToField": "mgr",
                          "as": "reports", "maxDepth": 5}},
        {"$addFields": {"n": {"$size": "$reports"}}},
        {"$sort": {"eid": 1}}, {"$project": {"eid": 1, "n": 1}},
    ], tables={"emp": emp})
    # 1 manages {2,3,4} transitively; 2 manages {3}; 3,4 manage none
    assert rows(got) == [(1, 3), (2, 1), (3, 0), (4, 0)]


def test_graph_lookup_unbounded_fixpoint(spark):
    """r12: omitting maxDepth runs the server's traversal-to-fixpoint
    (eager per-level loop) instead of refusing.  Same org chart as the
    bounded test — the fixpoint must find the identical closure."""
    emp = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (4, 1)], "eid long, mgr long")
    got = aggregate(emp, [
        {"$graphLookup": {"from": "emp", "startWith": "$eid",
                          "connectFromField": "eid",
                          "connectToField": "mgr", "as": "reports"}},
        {"$addFields": {"n": {"$size": "$reports"}}},
        {"$sort": {"eid": 1}}, {"$project": {"eid": 1, "n": 1}},
    ], tables={"emp": emp})
    assert rows(got) == [(1, 3), (2, 1), (3, 0), (4, 0)]


def test_graph_lookup_unbounded_cycle_terminates(spark):
    """Cyclic graph (a→b→c→a plus a tail d→a): the fixpoint loop must
    terminate (visited-value pruning) and each root must see exactly
    the nodes reachable from it, once each."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
        "node string, next string")
    roots = spark.createDataFrame([("a",), ("d",)], "start string")
    got = aggregate(roots, [
        {"$graphLookup": {"from": "edges", "startWith": "$start",
                          "connectFromField": "next",
                          "connectToField": "node", "as": "walk",
                          "depthField": "d"}},
        {"$addFields": {"n": {"$size": "$walk"}}},
        {"$sort": {"start": 1}},
    ], tables={"edges": edges})
    out = {r["start"]: r for r in got.collect()}
    # from 'a': edge-docs a,b,c reachable (cycle closed, no dup)
    assert out["a"]["n"] == 3
    assert sorted((w["node"], w["d"]) for w in out["a"]["walk"]) == [
        ("a", 0), ("b", 1), ("c", 2)]
    # from 'd': d at depth 0, then the whole cycle
    assert out["d"]["n"] == 4
    assert sorted((w["node"], w["d"]) for w in out["d"]["walk"]) == [
        ("a", 1), ("b", 2), ("c", 3), ("d", 0)]


def test_graph_lookup_unbounded_level_cap(spark, monkeypatch):
    """A chain deeper than the level cap refuses loudly with the
    env-override pointer instead of grinding through thousands of jobs."""
    import mongo_hadoop_spark.plans.aggpipe as ap
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "node long, next long")
    start = spark.createDataFrame([(0,)], "s long")
    monkeypatch.setenv(ap.GRAPH_LOOKUP_MAX_LEVELS_ENV, "3")
    with pytest.raises(ValueError, match="BFS levels"):
        aggregate(start, [
            {"$graphLookup": {"from": "chain", "startWith": "$s",
                              "connectFromField": "next",
                              "connectToField": "node", "as": "w"}},
        ], tables={"chain": chain}).collect()
    monkeypatch.setenv(ap.GRAPH_LOOKUP_MAX_LEVELS_ENV, "20")
    got = aggregate(start, [
        {"$graphLookup": {"from": "chain", "startWith": "$s",
                          "connectFromField": "next",
                          "connectToField": "node", "as": "w"}},
        {"$project": {"n": {"$size": "$w"}}},
    ], tables={"chain": chain})
    assert got.collect()[0]["n"] == 6


def test_graph_lookup_unbounded_no_match(spark):
    """startWith values that never match: empty arrays, no crash."""
    edges = spark.createDataFrame([("x", "y")], "node string, next string")
    roots = spark.createDataFrame([("zz",), (None,)], "start string")
    got = aggregate(roots, [
        {"$graphLookup": {"from": "edges", "startWith": "$start",
                          "connectFromField": "next",
                          "connectToField": "node", "as": "w"}},
        {"$project": {"start": 1, "n": {"$size": "$w"}}},
        {"$sort": {"start": 1}},
    ], tables={"edges": edges})
    assert [(r["start"], r["n"]) for r in got.collect()] == [
        (None, 0), ("zz", 0)]


def test_densify_and_fill_numeric(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 20.0), (5, 50.0)], "k long, v double")
    got = aggregate(df, [
        {"$densify": {"field": "k", "range": {"step": 1, "bounds": "full"}}},
        {"$fill": {"sortBy": {"k": 1}, "output": {"v": {"method": "locf"}}}},
        {"$sort": {"k": 1}},
    ])
    assert rows(got) == [(1, 10.0), (2, 20.0), (3, 20.0), (4, 20.0), (5, 50.0)]


def test_densify_partitioned_explicit_bounds_value_fill(spark):
    # explicit bounds are HALF-OPEN [lo, hi) like the server (r12 —
    # previously generated through hi inclusively): [0, 3] generates
    # 0,1,2 only; an original document AT the excluded bound would
    # still be returned (off-axis preservation)
    df = spark.createDataFrame([("a", 0, 1.0), ("a", 2, 3.0), ("b", 1, 9.0),
                                ("b", 3, 7.0)],
                               "g string, k long, v double")
    got = aggregate(df, [
        {"$densify": {"field": "k", "partitionByFields": ["g"],
                      "range": {"step": 1, "bounds": [0, 3]}}},
        {"$fill": {"output": {"v": {"value": -1.0}}}},
        {"$sort": {"g": 1, "k": 1}},
    ])
    assert rows(got) == [
        ("a", 0, 1.0), ("a", 1, -1.0), ("a", 2, 3.0),
        ("b", 0, -1.0), ("b", 1, 9.0), ("b", 2, -1.0), ("b", 3, 7.0),
    ]


def test_densify_day_unit(spark):
    import datetime as dt
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 1), (dt.datetime(2024, 1, 4), 4)],
        "d timestamp, x long")
    got = aggregate(df, [
        {"$densify": {"field": "d", "range": {"step": 1, "unit": "day",
                                              "bounds": "full"}}},
        {"$sort": {"d": 1}}, {"$project": {"x": 1}},
    ])
    assert [r[0] for r in rows(got)] == [1, None, None, 4]


def test_array_hof_exprs(spark):
    df = spark.createDataFrame([([1, 2, 3, 4],)], "xs array<int>")
    got = aggregate(df, [{"$project": {
        "doubled": {"$map": {"input": "$xs", "as": "x",
                             "in": {"$multiply": ["$$x", 2]}}},
        "evens": {"$filter": {"input": "$xs",
                              "cond": {"$eq": [{"$mod": ["$$this", 2]}, 0]}}},
        "total": {"$reduce": {"input": "$xs", "initialValue": 0,
                              "in": {"$add": ["$$value", "$$this"]}}},
        "rev": {"$reverseArray": "$xs"},
        "idx": {"$indexOfArray": ["$xs", 3]},
        "missing": {"$indexOfArray": ["$xs", 99]},
        "r": {"$range": [0, 4]},
        "rneg": {"$range": [0, -3, -1]},
        "first2": {"$slice": ["$xs", 2]},
        "last2": {"$slice": ["$xs", -2]},
        "mid": {"$slice": ["$xs", 1, 2]},
    }}])
    r = got.collect()[0]
    assert r.doubled == [2, 4, 6, 8] and r.evens == [2, 4] and r.total == 10
    assert r.rev == [4, 3, 2, 1] and r.idx == 2 and r.missing == -1
    assert r.r == [0, 1, 2, 3] and r.rneg == [0, -1, -2]
    assert r.first2 == [1, 2] and r.last2 == [3, 4] and r.mid == [2, 3]


def test_set_ops_and_switch(spark):
    df = spark.createDataFrame([([3, 1, 2, 2], [2, 4], 7)],
                               "a array<int>, b array<int>, v long")
    got = aggregate(df, [{"$project": {
        "u": {"$setUnion": ["$a", "$b"]},
        "i": {"$setIntersection": ["$a", "$b"]},
        "d": {"$setDifference": ["$a", "$b"]},
        "sw": {"$switch": {"branches": [
            {"case": {"$gt": ["$v", 10]}, "then": "big"},
            {"case": {"$gt": ["$v", 5]}, "then": "mid"},
        ], "default": "small"}},
        "mx": {"$max": ["$v", 3, 9]},
        "mn": {"$min": ["$v", 3, 9]},
    }}])
    r = got.collect()[0]
    assert r.u == [1, 2, 3, 4] and r.i == [2] and r.d == [1, 3]
    assert r.sw == "mid" and r.mx == 9 and r.mn == 3


def test_date_exprs(spark):
    import datetime as dt
    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 15, 10, 30, 45),
          dt.datetime(2024, 3, 18, 22, 0, 0))], "a timestamp, b timestamp")
    got = aggregate(df, [{"$project": {
        "trunc_day": {"$dateToString": {
            "date": {"$dateTrunc": {"date": "$a", "unit": "day"}},
            "format": "%Y-%m-%d %H:%M:%S"}},
        "dd": {"$dateDiff": {"startDate": "$a", "endDate": "$b", "unit": "day"}},
        "dh": {"$dateDiff": {"startDate": "$a", "endDate": "$b", "unit": "hour"}},
        "plus2d": {"$dateToString": {
            "date": {"$dateAdd": {"startDate": "$a", "unit": "day", "amount": 2}},
            "format": "%Y-%m-%d"}},
        "rx": {"$regexMatch": {"input": {"$dateToString": {"date": "$a",
                                                           "format": "%Y-%m-%d"}},
                               "regex": "^2024-03"}},
    }}])
    r = got.collect()[0]
    assert r.trunc_day == "2024-03-15 00:00:00"
    # hour diff counts BOUNDARY CROSSINGS (server semantics):
    # 10:xx -> 22:00 three days later crosses 84 hour marks
    assert r.dd == 3 and r.dh == 84
    assert r.plus2d == "2024-03-17" and r.rx is True


def test_unbound_variable_raises():
    with pytest.raises(ValueError, match="unbound pipeline variable"):
        expr_to_col({"$add": ["$$nope", 1]})


def test_union_with_and_sample(spark, people):
    extra = spark.createDataFrame([(9, "zed", 50)], "id long, name string, age int")
    got = aggregate(people, [
        {"$project": {"id": 1, "name": 1, "age": 1}},
        {"$unionWith": {"coll": "extra",
                        "pipeline": [{"$match": {"age": {"$gte": 40}}}]}},
        {"$sort": {"id": 1}}, {"$project": {"id": 1}},
    ], tables={"extra": extra})
    assert rows(got) == [(1,), (2,), (3,), (4,), (9,)]
    # deterministic sample: same result every run, exactly n rows
    s1 = aggregate(people, [{"$sample": {"size": 2}}, {"$project": {"id": 1}}])
    s2 = aggregate(people, [{"$sample": {"size": 2}}, {"$project": {"id": 1}}])
    assert sorted(rows(s1)) == sorted(rows(s2)) and len(rows(s1)) == 2


def test_boolean_truthiness_coercion(spark):
    df = spark.createDataFrame([(1, 0, None)], "a long, z long, n long")
    got = aggregate(df, [{"$project": {
        "c_null": {"$cond": ["$n", "t", "f"]},     # null → falsy
        "c_zero": {"$cond": ["$z", "t", "f"]},     # 0 → falsy
        "c_one": {"$cond": ["$a", "t", "f"]},      # 1 → truthy
        "and_nz": {"$and": ["$a", "$z"]},
        "or_nz": {"$or": ["$n", "$a"]},
        "not_n": {"$not": "$n"},
    }}])
    r = got.collect()[0]
    assert (r.c_null, r.c_zero, r.c_one) == ("f", "f", "t")
    assert r.and_nz is False and r.or_nz is True and r.not_n is True


def test_pipeline_over_mongodoc_source(spark, tmp_path):
    """End-to-end: documents written to the BSON store, read through the
    mongodoc DataSource (with a pushed query), aggregated by a pipeline,
    and $merge-written back to the store."""
    from mongo_hadoop_spark.sources import register
    from mongo_hadoop_spark.store import DocumentStore

    register(spark)
    store = str(tmp_path / "db")
    spark.createDataFrame(
        [(i, f"u{i % 3}", float(i)) for i in range(30)],
        "id long, user string, amount double",
    ).write.format("mongodoc").option("path", store).option(
        "collection", "txns").mode("append").save()

    src = (spark.read.format("mongodoc")
           .option("path", store).option("collection", "txns")
           .option("query", '{"id": {"$gte": 10}}').load())
    result = aggregate(src, [
        {"$addFields": {"ad": {"$toDecimal": "$amount"}}},
        {"$group": {"_id": "$user", "n": {"$sum": 1},
                    "total": {"$sum": "$ad"}}},
        {"$project": {"_id": 1, "n": 1, "total": {"$toDouble": "$total"}}},
        {"$merge": {"into": "user_totals", "on": "_id"}},
    ], store_path=store)
    assert result.count() == 3
    docs = {d["_id"]: (d["n"], d["total"])
            for d in DocumentStore(store).collection("user_totals").find()}
    # ids 10..29: u0 gets ids 12,15,...,27 → 7... compute directly
    import collections
    expect = collections.defaultdict(lambda: [0, 0.0])
    for i in range(10, 30):
        expect[f"u{i % 3}"][0] += 1
        expect[f"u{i % 3}"][1] += float(i)
    assert docs == {k: (v[0], v[1]) for k, v in expect.items()}


def test_let_binds_variables(spark):
    df = spark.createDataFrame([(3, 4)], "a long, b long")
    got = aggregate(df, [{"$project": {
        "hyp": {"$let": {
            "vars": {"a2": {"$multiply": ["$a", "$a"]},
                     "b2": {"$multiply": ["$b", "$b"]}},
            "in": {"$sqrt": {"$add": ["$$a2", "$$b2"]}},
        }},
        # nested $let shadows outer bindings
        "shadow": {"$let": {"vars": {"x": 1},
                            "in": {"$let": {"vars": {"x": 10},
                                            "in": {"$add": ["$$x", 1]}}}}},
    }}])
    r = got.collect()[0]
    assert r.hyp == 5.0 and r.shadow == 11


def test_date_from_parts_and_day_of_year(spark):
    df = spark.createDataFrame([(2024, 3, 15)], "y int, m int, d int")
    got = aggregate(df, [{"$project": {
        "ts": {"$dateToString": {
            "date": {"$dateFromParts": {"year": "$y", "month": "$m", "day": "$d",
                                        "hour": 6}},
            "format": "%Y-%m-%d %H:%M:%S"}},
        "doy": {"$dayOfYear": {"$dateFromParts": {"year": "$y", "month": "$m",
                                                  "day": "$d"}}},
    }}])
    r = got.collect()[0]
    assert r.ts == "2024-03-15 06:00:00" and r.doy == 75


def test_bucket_auto_equal_counts(spark):
    """8 distinct values into 4 buckets → 2 per bucket, contiguous
    (min, max] spans covering the full range."""
    df = spark.createDataFrame([(float(i),) for i in range(1, 9)], "x double")
    got = aggregate(df, [
        {"$bucketAuto": {"groupBy": "$x", "buckets": 4}},
        {"$sort": {"_id_min": 1}},
    ])
    out = rows(got)
    assert [r[2] for r in out] == [2, 2, 2, 2]
    assert out[0][0] == 1.0 and out[-1][1] == 8.0
    # contiguous: each bucket's max is the next bucket's min
    assert all(out[i][1] == out[i + 1][0] for i in range(len(out) - 1))


def test_bucket_auto_granularity_unknown_series(spark):
    # granularity is SUPPORTED as of r8 (see test_bucket_auto_granularity);
    # an unknown series name still refuses loudly
    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError, match="granularity"):
        aggregate(df, [{"$bucketAuto": {
            "groupBy": "$x", "buckets": 2, "granularity": "R7"}}]).collect()


def test_array_expression_ops_round2(spark):
    df = spark.createDataFrame(
        [([3.0, 1.0, 2.0], [10.0, 20.0, 30.0, 40.0])], "a array<double>, b array<double>")
    got = aggregate(df, [{"$project": {
        "sorted_desc": {"$sortArray": {"input": "$a", "sortBy": -1}},
        "zipped": {"$zip": {"inputs": ["$a", "$b"]}},
        "first2": {"$firstN": {"input": "$b", "n": 2}},
        "last2": {"$lastN": {"input": "$b", "n": 2}},
    }}])
    r = got.collect()[0]
    assert r.sorted_desc == [3.0, 2.0, 1.0]
    assert r.zipped == [[3.0, 10.0], [1.0, 20.0], [2.0, 30.0]]  # truncated
    assert r.first2 == [10.0, 20.0]
    assert r.last2 == [30.0, 40.0]


def test_object_to_array_round_trip(spark):
    """$arrayToObject builds a MAP document; $objectToArray explodes it
    back to the server's [{k, v}, ...] shape in key order."""
    df = spark.createDataFrame([("a", 1), ("b", 2)], "name string, x int")
    got = aggregate(df, [{"$project": {
        "kv": {"$objectToArray": {"$arrayToObject": [[
            {"k": "n", "v": "$name"},
            {"k": "xs", "v": {"$toString": "$x"}},
        ]]}},
    }}])
    rows = sorted(got.collect(), key=lambda r: r.kv[0].v)
    assert [(e.k, e.v) for e in rows[0].kv] == [("n", "a"), ("xs", "1")]
    assert [(e.k, e.v) for e in rows[1].kv] == [("n", "b"), ("xs", "2")]


def test_object_to_array_field_path_operand(spark):
    """$objectToArray on a MAP column; $arrayToObject on the resulting
    entry array (field-path form)."""
    df = spark.createDataFrame([({"p": 1.5, "q": 2.5},)],
                               "m map<string,double>")
    got = aggregate(df, [
        {"$project": {"kv": {"$objectToArray": "$m"}}},
        {"$project": {"m2": {"$arrayToObject": "$kv"},
                      "ks": {"$map": {"input": "$kv", "in": "$$this.k"}}}},
    ])
    r = got.collect()[0]
    assert r.m2 == {"p": 1.5, "q": 2.5} and r.ks == ["p", "q"]


def test_array_to_object_rejects_pair_form(spark):
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="pair"):
        aggregate(df, [{"$project": {
            "m": {"$arrayToObject": [[["k1", 1], ["k2", 2]]]}}}])


def test_zip_empty_input_yields_empty(spark):
    """Mongo's $zip returns [] when any input is empty — the naive
    sequence(1, 0) would count DOWN and element_at(col, 0) would raise."""
    df = spark.createDataFrame(
        [([], [10.0]), ([1.0], []), ([], [])],
        "a array<double>, b array<double>")
    got = aggregate(df, [{"$project": {
        "zipped": {"$zip": {"inputs": ["$a", "$b"]}}}}])
    assert [r.zipped for r in got.collect()] == [[], [], []]


def test_trunc_rejects_non_integer_places(spark):
    df = spark.createDataFrame([(1.234, 2)], "x double, p int")
    with pytest.raises(ValueError, match=r"\$trunc places"):
        aggregate(df, [{"$project": {"t": {"$trunc": ["$x", "$p"]}}}])


def test_numeric_and_date_ops_round2(spark):
    import datetime as dt
    df = spark.createDataFrame(
        [(-2.567, 1000.0, dt.datetime(2024, 1, 10, 12, 0, 0))],
        "x double, y double, ts timestamp")
    got = aggregate(df, [{"$project": {
        "t0": {"$trunc": "$x"},
        "t2": {"$trunc": ["$x", 2]},
        "lg": {"$log10": "$y"},
        "lb": {"$log": ["$y", 10.0]},
        "back": {"$dateSubtract": {"startDate": "$ts", "unit": "day",
                                   "amount": 7}},
    }}])
    r = got.collect()[0]
    assert r.t0 == -2.0 and r.t2 == -2.56  # truncation toward zero
    assert abs(r.lg - 3.0) < 1e-12 and abs(r.lb - 3.0) < 1e-12
    assert r.back == dt.datetime(2024, 1, 3, 12, 0, 0)


def test_sort_array_document_keys_rejected(spark):
    # r12: document sortBy is now SUPPORTED on struct arrays; on a
    # scalar array the field extraction fails loudly at analysis
    # (Spark INVALID_EXTRACT_BASE_FIELD_TYPE), never a silent no-op
    df = spark.createDataFrame([([1.0],)], "a array<double>")
    with pytest.raises(Exception, match="STRUCT|complex type"):
        aggregate(df, [{"$project": {
            "s": {"$sortArray": {"input": "$a", "sortBy": {"f": 1}}}}}]).collect()


def test_string_ops_round5(spark):
    df = spark.createDataFrame([("  ab#ab  ", "xAy")], "s string, t string")
    got = aggregate(df, [{"$project": {
        "lt": {"$ltrim": {"input": "$s"}},
        "rt": {"$rtrim": {"input": "$s"}},
        "trim_chars": {"$trim": {"input": "$s", "chars": " b"}},
        "idx": {"$indexOfCP": ["$t", "A"]},
        "idx_miss": {"$indexOfCP": ["$t", "z"]},
        "rall": {"$replaceAll": {"input": "$s", "find": "ab",
                                 "replacement": "X"}},
        "rone": {"$replaceOne": {"input": "$s", "find": "ab",
                                 "replacement": "X"}},
        "cmp": {"$strcasecmp": ["$t", "XAY"]},
    }}])
    r = got.collect()[0]
    assert r.lt == "ab#ab  " and r.rt == "  ab#ab"
    assert r.trim_chars == "ab#a"
    assert r.idx == 1 and r.idx_miss == -1
    assert r.rall == "  X#X  " and r.rone == "  X#ab  "
    assert r.cmp == 0


def test_set_and_field_ops_round5(spark):
    import datetime as dt
    df = spark.createDataFrame(
        [([1, 2, 2], [2, 1, 3], dt.datetime(2024, 3, 5, 7, 8, 9))],
        "a array<int>, b array<int>, ts timestamp")
    got = aggregate(df, [{"$project": {
        "subset": {"$setIsSubset": ["$a", "$b"]},
        "not_subset": {"$setIsSubset": ["$b", "$a"]},
        "eq": {"$setEquals": ["$a", [2, 1]]},
        "doc": {"$setField": {"field": "z", "value": 9,
                              "input": {"x": "$a", "y": 1}}},
        "undoc": {"$unsetField": {"field": "y",
                                  "input": {"x": "$a", "y": 1}}},
        "parts": {"$dateToParts": {"date": "$ts"}},
    }}])
    r = got.collect()[0]
    assert r.subset is True and r.not_subset is False
    assert r.eq is True  # {1,2} == {2,1} as sets
    assert r.doc.z == 9 and r.doc.y == 1
    assert "y" not in r.undoc.asDict() and r.undoc.x == [1, 2, 2]
    assert (r.parts.year, r.parts.month, r.parts.day,
            r.parts.hour, r.parts.minute, r.parts.second) == (2024, 3, 5, 7, 8, 9)


def test_get_field_on_map_and_struct(spark):
    df = spark.createDataFrame([({"k1": 5}, )], "m map<string,int>")
    got = aggregate(df, [{"$project": {
        "v": {"$getField": {"field": "k1", "input": "$m"}},
        "s": {"$getField": {"field": "a",
                            "input": {"a": {"$literal": 7}, "b": 1}}},
    }}])
    r = got.collect()[0]
    assert r.v == 5 and r.s == 7


def test_replace_with_alias(spark):
    nested = spark.createDataFrame([((2, "y"),)], "doc struct<a: long, b: string>")
    got = aggregate(nested, [{"$replaceWith": "$doc"}])
    assert got.columns == ["a", "b"] and rows(got) == [(2, "y")]


def test_replace_with_document_expression(spark):
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    got = aggregate(df, [{"$replaceWith": {"s": {"$add": ["$a", "$b"]},
                                           "a": "$a"}}])
    r = got.collect()[0]
    assert got.columns == ["s", "a"] and (r.s, r.a) == (3, 1)


def test_date_to_parts_pre_epoch_millisecond(spark):
    import datetime as dt
    df = spark.createDataFrame(
        [(dt.datetime(1969, 12, 31, 23, 59, 59, 123000),)], "ts timestamp")
    got = aggregate(df, [{"$project": {
        "p": {"$dateToParts": {"date": "$ts"}}}}])
    p = got.collect()[0].p
    assert p.millisecond == 123 and p.year == 1969 and p.second == 59


def test_strcasecmp_uppercases_like_server(spark):
    df = spark.createDataFrame([("a", "_")], "x string, y string")
    got = aggregate(df, [{"$project": {"c": {"$strcasecmp": ["$x", "$y"]}}}])
    # server uppercases: 'A'(65) < '_'(95) -> -1 (lowercasing would flip it)
    assert got.collect()[0].c == -1


def test_merge_objects_later_wins(spark):
    df = spark.createDataFrame(
        [({"a": 1, "b": 2}, {"b": 9, "c": 3})],
        "m1 map<string,int>, m2 map<string,int>")
    got = aggregate(df, [{"$project": {
        "m": {"$mergeObjects": ["$m1", "$m2"]},
        "kv": {"$objectToArray": {"$mergeObjects": ["$m1", "$m2"]}},
    }}])
    r = got.collect()[0]
    assert r.m == {"a": 1, "b": 9, "c": 3}
    assert sorted((e.k, e.v) for e in r.kv) == [("a", 1), ("b", 9), ("c", 3)]


# ---------------------------------------------------------------------------
# Ranked accumulators ($top/$bottom/$topN/$bottomN) and $median/$percentile
# ---------------------------------------------------------------------------


def _scores_df(spark):
    return spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("a", 4, 30.0),
         ("b", 5, 5.0)],
        "grp string, id int, score double")


def test_topn_bottomn_with_ties(spark):
    got = aggregate(_scores_df(spark), [
        {"$group": {"_id": "$grp",
                    "top2": {"$topN": {"output": "$id",
                                       "sortBy": {"score": -1}, "n": 2}},
                    "bot2": {"$bottomN": {"output": "$id",
                                          "sortBy": {"score": -1}, "n": 2}},
                    "best": {"$top": {"output": "$id",
                                      "sortBy": {"score": -1}}},
                    "worst": {"$bottom": {"output": "$id",
                                          "sortBy": {"score": -1}}}}},
        {"$sort": {"_id": 1}},
    ]).collect()
    a = {r._id: r for r in got}["a"]
    # score desc, id asc on ties: 30.0@2, 30.0@4, 20.0@3, 10.0@1
    assert a.top2 == [2, 4]
    assert a.bot2 == [3, 1]
    assert a.best == 2
    assert a.worst == 1
    b = {r._id: r for r in got}["b"]
    # group smaller than n: whole group, no error
    assert b.top2 == [5] and b.bot2 == [5]


def test_median_and_percentile_discrete(spark):
    got = aggregate(_scores_df(spark), [
        {"$group": {"_id": "$grp",
                    "med": {"$median": {"input": "$score",
                                        "method": "approximate"}},
                    "pq": {"$percentile": {"input": "$score",
                                           "p": [0.25, 0.5, 1.0],
                                           "method": "approximate"}}}},
        {"$sort": {"_id": 1}},
    ]).collect()
    a = {r._id: r for r in got}["a"]
    # sorted scores: [10, 20, 30, 30]; ceil(4*.5)=2 -> 20; ceil(4*.25)=1 -> 10
    assert a.med == 20.0
    assert a.pq == [10.0, 20.0, 30.0]
    b = {r._id: r for r in got}["b"]
    assert b.med == 5.0 and b.pq == [5.0, 5.0, 5.0]


def test_ranked_accumulator_rejects_bad_direction(spark):
    import pytest

    with pytest.raises(ValueError, match="direction"):
        aggregate(_scores_df(spark), [
            {"$group": {"_id": "$grp",
                        "t": {"$topN": {"output": "$id",
                                        "sortBy": {"score": 2}, "n": 1}}}}])


def test_percentile_rejects_empty_p(spark):
    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        aggregate(_scores_df(spark), [
            {"$group": {"_id": "$grp",
                        "t": {"$percentile": {"input": "$score", "p": []}}}}])


# ---------------------------------------------------------------------------
# $derivative / $integral / $covariance window operators
# ---------------------------------------------------------------------------


def _ts_df(spark):
    import datetime as dt

    rows = [("u", dt.datetime(2024, 1, 1, 0, 0, s), float(v))
            for s, v in [(0, 0.0), (10, 10.0), (20, 40.0), (30, 40.0)]]
    return spark.createDataFrame(rows, "k string, ts timestamp, v double")


def test_derivative_and_integral_values(spark):
    got = aggregate(_ts_df(spark), [
        {"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"ts": 1},
            "output": {
                "vel": {"$derivative": {"input": "$v", "unit": "second"},
                        "window": {"documents": ["unbounded", "current"]}},
                "integ": {"$integral": {"input": "$v", "unit": "second"},
                          "window": {"documents": ["unbounded",
                                                   "current"]}},
            }}},
    ]).orderBy("ts").collect()
    # vel from the partition's first row: None, 1.0, 2.0, 40/30
    assert got[0].vel is None and got[0].integ is None
    assert got[1].vel == 1.0
    assert got[2].vel == 2.0
    assert abs(got[3].vel - 40.0 / 30.0) < 1e-12
    # trapezoids: (0+10)/2*10=50, +(10+40)/2*10=250 -> 300, +400 -> 700
    assert got[1].integ == 50.0
    assert got[2].integ == 300.0
    assert got[3].integ == 700.0


def test_derivative_numeric_sort_no_unit(spark):
    df = spark.createDataFrame(
        [("k", 0, 0.0), ("k", 4, 8.0)], "k string, x long, v double")
    got = aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"x": 1},
            "output": {"d": {"$derivative": {"input": "$v"},
                             "window": {"documents": ["unbounded",
                                                      "current"]}}}}},
    ]).orderBy("x").collect()
    assert got[1].d == 2.0


def test_covariance_window(spark):
    df = spark.createDataFrame(
        [("k", 1.0, 2.0), ("k", 2.0, 4.0), ("k", 3.0, 6.0)],
        "k string, x double, y double")
    got = aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"x": 1},
            "output": {"cp": {"$covariancePop": ["$x", "$y"]},
                       "cs": {"$covarianceSamp": ["$x", "$y"]}}}},
    ]).orderBy("x").collect()
    # no-frame default = WHOLE partition (server default, r12 — was
    # silently cumulative): every row sees all three points
    for r in got:
        assert abs(r.cp - 4.0 / 3.0) < 1e-12
        assert abs(r.cs - 2.0) < 1e-12
    # the cumulative shape needs an explicit window now
    got2 = aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"x": 1},
            "output": {"cs": {"$covarianceSamp": ["$x", "$y"],
                              "window": {"documents": ["unbounded",
                                                       "current"]}}}}},
    ]).orderBy("x").collect()
    assert got2[0].cs is None  # single point: sample cov undefined
    assert abs(got2[2].cs - 2.0) < 1e-12


def test_integral_rejects_bounded_start_and_two_sort_keys(spark):
    import pytest

    df = _ts_df(spark)
    with pytest.raises(ValueError, match="unbounded"):
        aggregate(df, [
            {"$setWindowFields": {
                "partitionBy": "$k", "sortBy": {"ts": 1},
                "output": {"i": {"$integral": {"input": "$v",
                                               "unit": "second"},
                                 "window": {"documents": [-1, 0]}}}}}])
    with pytest.raises(ValueError, match="exactly one sortBy"):
        aggregate(df, [
            {"$setWindowFields": {
                "partitionBy": "$k", "sortBy": {"ts": 1, "v": 1},
                "output": {"i": {"$derivative": {"input": "$v"}}}}}])


def test_fill_linear_interpolates_and_keeps_edges_null(spark):
    df = spark.createDataFrame(
        [("k", 0, None), ("k", 10, 10.0), ("k", 20, None), ("k", 40, 40.0),
         ("k", 50, None)],
        "k string, x long, v double")
    got = aggregate(df, [
        {"$fill": {"partitionBy": "$k", "sortBy": {"x": 1},
                   "output": {"v": {"method": "linear"}}}},
    ]).orderBy("x").collect()
    vals = [r.v for r in got]
    # leading null stays; x=20 interpolates 10 + 30*(10/30) = 20;
    # trailing null stays
    assert vals == [None, 10.0, 20.0, 40.0, None]


def test_fill_linear_requires_single_sort_key(spark):
    import pytest

    df = spark.createDataFrame([("k", 1, 1.0)], "k string, x long, v double")
    with pytest.raises(ValueError, match="exactly one sortBy"):
        aggregate(df, [
            {"$fill": {"partitionBy": "$k", "sortBy": {"x": 1, "v": 1},
                       "output": {"v": {"method": "linear"}}}}])


# ---------------------------------------------------------------------------
# Mongo 4.2 regex/type/trig expression family
# ---------------------------------------------------------------------------


@pytest.fixture()
def strings(spark):
    return spark.createDataFrame(
        [(1, "abc12de3f", [1, 0, 2]), (2, "nodigits", []), (3, None, None)],
        "id long, s string, nums array<int>")


def test_regex_find_shape(strings):
    got = {r.id: r.rf for r in strings.select(
        "id",
        expr_to_col({"$regexFind": {"input": "$s",
                                    "regex": r"(\d+)([a-z]+)"}}).alias("rf"),
    ).collect()}
    assert got[1].match == "12de" and got[1].idx == 3
    assert got[1].captures == ["12", "de"]
    # no match and null input both yield null (server: missing)
    assert got[2] is None and got[3] is None


def test_regex_find_all_offsets_are_scan_positions(strings):
    got = {r.id: r.rfa for r in strings.select(
        "id",
        expr_to_col({"$regexFindAll": {"input": "$s",
                                       "regex": r"\d"}}).alias("rfa"),
    ).collect()}
    # repeated identical matches must advance the scan: "1","2","3" at
    # their true offsets, not three hits of the first occurrence
    assert [(m.match, m.idx) for m in got[1]] == [("1", 3), ("2", 4), ("3", 7)]
    assert got[2] == []


def test_regex_find_all_captures_empty_groups(strings):
    got = {r.id: r.v for r in strings.select(
        "id",
        expr_to_col({"$regexFindAll": {"input": "$s",
                                       "regex": r"(\d)(\d*)"}}).alias("v"),
    ).collect()}
    assert [(m.match, m.captures) for m in got[1]] == [
        ("12", ["1", "2"]), ("3", ["3", ""])]


def test_type_isnumber_isarray(strings):
    r = strings.select(
        expr_to_col({"$type": "$s"}).alias("ts"),
        expr_to_col({"$type": "$id"}).alias("ti"),
        expr_to_col({"$type": "$nums"}).alias("ta"),
        expr_to_col({"$isNumber": "$id"}).alias("isn"),
        expr_to_col({"$isNumber": "$s"}).alias("isn_s"),
        expr_to_col({"$isArray": "$nums"}).alias("isa"),
    ).where("ts = 'string'").first()
    assert (r.ts, r.ti, r.ta) == ("string", "long", "array")
    assert r.isn is True and r.isn_s is False and r.isa is True
    nulls = strings.where("s IS NULL").select(
        expr_to_col({"$type": "$s"}).alias("t"),
        expr_to_col({"$isNumber": "$s"}).alias("n")).first()
    assert nulls.t == "null" and nulls.n is False


def test_all_any_elements_true(strings):
    r = {x.id: (x.a, x.b) for x in strings.select(
        "id",
        expr_to_col({"$allElementsTrue": ["$nums"]}).alias("a"),
        expr_to_col({"$anyElementTrue": ["$nums"]}).alias("b"),
    ).collect()}
    assert r[1] == (False, True)   # contains a 0
    assert r[2] == (True, False)   # vacuous truth on empty array


def test_trig_and_strlenbytes(spark):
    import math

    df = spark.createDataFrame([(0.5, "héllo")], "x double, s string")
    r = df.select(
        expr_to_col({"$sin": "$x"}).alias("sin"),
        expr_to_col({"$atan2": ["$x", 1]}).alias("at2"),
        expr_to_col({"$radiansToDegrees": "$x"}).alias("deg"),
        expr_to_col({"$degreesToRadians": 180}).alias("rad"),
        expr_to_col({"$strLenBytes": "$s"}).alias("b"),
        expr_to_col({"$strLenCP": "$s"}).alias("cp"),
    ).first()
    assert r.sin == math.sin(0.5) and r.at2 == math.atan2(0.5, 1.0)
    assert r.deg == math.degrees(0.5) and r.rad == math.pi
    assert (r.b, r.cp) == (6, 5)   # é is 2 UTF-8 bytes, 1 code point


def test_array_elem_at_out_of_range_is_missing(spark):
    # server: $arrayElemAt past either end returns missing, never errors —
    # must hold under Spark 4's default ANSI mode
    df = spark.createDataFrame([([1, 2],), ([],)], "a array<int>")
    got = df.select(
        expr_to_col({"$arrayElemAt": ["$a", 5]}).alias("hi"),
        expr_to_col({"$arrayElemAt": ["$a", -5]}).alias("lo"),
        expr_to_col({"$arrayElemAt": ["$a", 0]}).alias("first"),
    ).collect()
    assert all(r.hi is None and r.lo is None for r in got)
    assert sorted([r.first for r in got], key=lambda v: (v is None, v)) == [1, None]


# ---------------------------------------------------------------------------
# $vectorSearch / $geoNear search stages
# ---------------------------------------------------------------------------


@pytest.fixture()
def vectors(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.0, 1.0], "a"),
         (3, [0.6, 0.8], "b"), (4, [-1.0, 0.0], "a")],
        "vec_id long, v array<double>, grp string")


def test_vector_search_cosine_scores_and_meta(vectors):
    got = aggregate(vectors, [
        {"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                           "limit": 3}},
        {"$project": {"vec_id": 1,
                      "score": {"$meta": "vectorSearchScore"}}},
    ]).collect()
    assert [r.vec_id for r in got] == [1, 3, 2]
    # Atlas cosine normalization (1 + cos)/2
    assert got[0].score == 1.0 and got[1].score == pytest.approx(0.8)
    assert got[2].score == pytest.approx(0.5)


def test_vector_search_filter_and_euclidean(vectors):
    got = aggregate(vectors, [
        {"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                           "limit": 2, "similarity": "euclidean",
                           "filter": {"grp": "a"}}},
        {"$project": {"vec_id": 1,
                      "score": {"$meta": "vectorSearchScore"}}},
    ]).collect()
    assert [r.vec_id for r in got] == [1, 2]
    assert got[0].score == 1.0                       # d=0 → 1/(1+0)
    assert got[1].score == pytest.approx(1 / (1 + 2 ** 0.5))


def test_vector_search_hidden_score_is_stripped(vectors):
    out = aggregate(vectors, [
        {"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                           "limit": 2}},
    ])
    assert "__vs_score__" not in out.columns


def test_vector_search_must_be_first_stage(vectors):
    with pytest.raises(ValueError, match="first pipeline stage"):
        aggregate(vectors, [
            {"$match": {"grp": "a"}},
            {"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                               "limit": 1}}])


def test_vector_search_plan_is_take_ordered(vectors):
    out = aggregate(vectors, [
        {"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                           "limit": 2}}])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_geo_near_distance_bounds_and_multiplier(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 3.0], "x"), (2, [4.0, 0.0], "x"),
         (3, [10.0, 10.0], "x"), (4, [0.0, 1.0], "y")],
        "id long, loc array<double>, t string")
    got = aggregate(df, [
        {"$geoNear": {"near": [0.0, 0.0], "key": "loc",
                      "distanceField": "d", "query": {"t": "x"},
                      "minDistance": 3.5, "maxDistance": 9.0,
                      "distanceMultiplier": 2.0}},
        {"$project": {"id": 1, "d": 1}},
    ]).collect()
    # id=1 (d=3) below min, id=3 (d≈14.1) above max, id=4 filtered by query
    assert [(r.id, r.d) for r in got] == [(2, 8.0)]


def test_geo_near_sorts_ascending_and_spherical_radians(spark):
    df = spark.createDataFrame(
        [(1, [5.0, 0.0]), (2, [1.0, 0.0]), (3, [3.0, 0.0])],
        "id long, loc array<double>")
    got = aggregate(df, [
        {"$geoNear": {"near": [0.0, 0.0], "key": "loc",
                      "distanceField": "d"}}]).collect()
    assert [r.id for r in got] == [2, 3, 1]
    assert "__geo_dist__" not in got[0].asDict()
    # spherical: legacy pairs report great-circle RADIANS (equator
    # points: distance == radians(lon)); ascending, internals dropped
    sph = aggregate(df, [
        {"$geoNear": {"near": [0.0, 0.0], "key": "loc",
                      "distanceField": "d", "spherical": True}}]).collect()
    assert [r.id for r in sph] == [2, 3, 1]
    assert "__geo_h__" not in sph[0].asDict()
    import math
    for r in sph:
        want = math.radians({1: 5.0, 2: 1.0, 3: 3.0}[r.id])
        assert abs(r.d - want) <= 1e-11
    # maxDistance is in radians and bounds on the monotone kernel
    bounded = aggregate(df, [
        {"$geoNear": {"near": [0.0, 0.0], "key": "loc",
                      "distanceField": "d", "spherical": True,
                      "maxDistance": math.radians(3.5)}}]).collect()
    assert [r.id for r in bounded] == [2, 3]
    # GeoJSON near point => meters in and out (6378100 m earth radius)
    geo = aggregate(df, [
        {"$geoNear": {"near": {"type": "Point", "coordinates": [0.0, 0.0]},
                      "key": "loc", "distanceField": "d",
                      "maxDistance": math.radians(3.5) * 6378100.0}}
    ]).collect()
    assert [r.id for r in geo] == [2, 3]
    for r in geo:
        want = math.radians({2: 1.0, 3: 3.0}[r.id]) * 6378100.0
        assert abs(r.d - want) <= 1e-4   # 0.1 mm at earth scale


# ---------------------------------------------------------------------------
# $locf / $linearFill window operators and $redact
# ---------------------------------------------------------------------------


def test_window_locf_and_linear_fill(spark):
    df = spark.createDataFrame(
        [("k", 0, None), ("k", 10, 10.0), ("k", 20, None), ("k", 40, 40.0),
         ("k", 50, None)],
        "k string, x long, v double")
    got = aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"x": 1},
            "output": {"carried": {"$locf": "$v"},
                       "interp": {"$linearFill": "$v"}}}},
        {"$sort": {"x": 1}},
    ]).collect()
    assert [r.carried for r in got] == [None, 10.0, 10.0, 40.0, 40.0]
    # x=20 interpolates 10 + 30*(10/30) = 20; edges stay null
    assert [r.interp for r in got] == [None, 10.0, 20.0, 40.0, None]


def test_window_first_last_stddev(spark):
    df = spark.createDataFrame(
        [("a", 1, 2.0), ("a", 2, 4.0), ("a", 3, 4.0), ("b", 4, 9.0)],
        "g string, seq long, v double")
    got = aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"seq": 1},
            "output": {
                "f": {"$first": "$v",
                      "window": {"documents": ["unbounded", "unbounded"]}},
                "l": {"$last": "$v",
                      "window": {"documents": ["unbounded", "unbounded"]}},
                "sd": {"$stdDevPop": "$v",
                       "window": {"documents": ["unbounded", "unbounded"]}},
            }}},
        {"$sort": {"seq": 1}},
    ]).collect()
    a = [r for r in got if r.g == "a"][0]
    assert (a.f, a.l) == (2.0, 4.0)
    assert a.sd == pytest.approx((8 / 9) ** 0.5 * 1.0, rel=1e-12) or a.sd > 0


def test_redact_prunes_by_level_recursively(spark):
    df = spark.createDataFrame(
        [(1, 1, (5, "top-secret", (1, "inner-ok"))),
         (2, 5, (1, "open", (1, "fine"))),
         (3, 1, (1, "open", (9, "classified")))],
        "id long, level int, detail struct<level int, note string,"
        " inner struct<level int, secret string>>")
    cond = {"$cond": [{"$gte": ["$level", 5]}, "$$PRUNE", "$$DESCEND"]}
    got = {r.id: r for r in aggregate(df, [{"$redact": cond}]).collect()}
    # row 2: root level 5 → whole row pruned
    assert sorted(got) == [1, 3]
    # row 1: detail.level 5 → detail pruned entirely (inner too)
    assert got[1].detail is None
    # row 3: detail kept, but inner.level 9 → inner pruned
    assert got[3].detail.note == "open" and got[3].detail.inner is None


def test_redact_keep_stops_descent_and_arrays(spark):
    df = spark.createDataFrame(
        [(1, "keep", [(5, "a"), (1, "b")]),
         (2, "descend", [(5, "a"), (1, "b")])],
        "id long, mode string, items array<struct<level int, tag string>>")
    cond = {"$switch": {"branches": [
        {"case": {"$eq": ["$mode", "keep"]}, "then": "$$KEEP"},
        {"case": {"$gte": ["$level", 5]}, "then": "$$PRUNE"},
    ], "default": "$$DESCEND"}}
    got = {r.id: r for r in aggregate(df, [{"$redact": cond}]).collect()}
    # $$KEEP at the root keeps high-level array elements un-redacted
    assert [e.level for e in got[1]["items"]] == [5, 1]
    # $$DESCEND recurses into array elements and prunes level>=5 docs
    assert [e.tag for e in got[2]["items"]] == ["b"]


def test_regex_find_all_matches_python_re_on_random_strings(spark):
    """Cross-implementation pin: the fold-computed offsets must equal
    Python re's non-overlapping scan on a few hundred adversarial strings
    (repeats, overlaps, empty-capable tails) in ONE Spark job."""
    import random
    import re

    rng = random.Random(20260814)
    alphabet = "aab0 1."
    cases = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
             for _ in range(300)]
    pattern = r"a+b|[0-9]+"
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)],
                               "i long, s string")
    got = {r.i: r.v for r in df.select("i", expr_to_col(
        {"$regexFindAll": {"input": "$s", "regex": pattern}}).alias("v"),
    ).collect()}
    for i, s in enumerate(cases):
        expected = [(m.group(0), m.start()) for m in re.finditer(pattern, s)]
        assert [(m.match, m.idx) for m in got[i]] == expected, (i, s)


def test_merge_keep_existing_discard_and_fail(spark, people, tmp_path):
    from mongo_hadoop_spark.store import DocumentStore

    store = str(tmp_path / "mergemodes")
    aggregate(people, [{"$project": {"id": 1, "name": 1}},
                       {"$out": "profiles"}], store_path=store)
    updates = spark.createDataFrame([(1, "ANN"), (9, "zoe")],
                                    "id long, name string")
    # keepExisting: matched doc untouched, new doc inserted
    aggregate(updates, [
        {"$merge": {"into": "profiles", "on": "id",
                    "whenMatched": "keepExisting"}}], store_path=store)
    docs = {d["id"]: d["name"]
            for d in DocumentStore(store).collection("profiles").find()}
    assert docs[1] == "ann" and docs[9] == "zoe"
    # whenNotMatched discard: only matched docs change
    upd2 = spark.createDataFrame([(2, "BOB"), (77, "nope")],
                                 "id long, name string")
    aggregate(upd2, [
        {"$merge": {"into": "profiles", "on": "id", "whenMatched": "merge",
                    "whenNotMatched": "discard"}}], store_path=store)
    docs = {d["id"]: d["name"]
            for d in DocumentStore(store).collection("profiles").find()}
    assert docs[2] == "BOB" and 77 not in docs
    # fail: raises when any incoming doc matches; non-matching still land
    upd3 = spark.createDataFrame([(3, "CY"), (88, "new")],
                                 "id long, name string")
    with pytest.raises(ValueError, match="whenMatched:fail"):
        aggregate(upd3, [
            {"$merge": {"into": "profiles", "on": "id",
                        "whenMatched": "fail"}}], store_path=store)
    docs = {d["id"]: d["name"]
            for d in DocumentStore(store).collection("profiles").find()}
    assert docs[3] == "cy" and docs[88] == "new"
    # keepExisting + discard is a no-op combination
    out = aggregate(upd3, [
        {"$merge": {"into": "profiles", "on": "id",
                    "whenMatched": "keepExisting",
                    "whenNotMatched": "discard"}}], store_path=store)
    assert out is not None


# ---------------------------------------------------------------------------
# $search (Atlas Search surface)
# ---------------------------------------------------------------------------


@pytest.fixture()
def articles(spark):
    return spark.createDataFrame(
        [(1, "Fast scan beats slow scan", 10),
         (2, "window functions window window", 20),
         (3, "nothing relevant here", 30),
         (4, None, 40)],
        "id long, body string, size int")


def test_search_text_scores_by_term_frequency(articles):
    got = aggregate(articles, [
        {"$search": {"text": {"query": "scan window", "path": "body"}}},
        {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
    ]).collect()
    scores = {r.id: r.score for r in got}
    # doc 2 has 3 "window" hits and ranks first
    assert [r.id for r in got][0] == 2
    assert scores == {1: 2.0, 2: 3.0}


def test_search_phrase_and_compound(articles):
    got = aggregate(articles, [
        {"$search": {"phrase": {"query": "slow scan", "path": "body"}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1]
    got = aggregate(articles, [
        {"$search": {"compound": {
            "must": [{"text": {"query": "scan window", "path": "body"}}],
            "filter": [{"range": {"path": "size", "lte": 15}}],
        }}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1]
    # should-only: at least one must match; mustNot excludes
    got = aggregate(articles, [
        {"$search": {"compound": {
            "should": [{"text": {"query": "scan", "path": "body"}},
                       {"text": {"query": "window", "path": "body"}}],
            "mustNot": [{"phrase": {"query": "fast scan", "path": "body"}}],
        }}},
        {"$project": {"id": 1}}]).collect()
    assert sorted(r.id for r in got) == [2]


def test_search_exists_equals_first_stage_rule(articles):
    got = aggregate(articles, [
        {"$search": {"exists": {"path": "body"}}},
        {"$project": {"id": 1}}]).collect()
    assert sorted(r.id for r in got) == [1, 2, 3]
    got = aggregate(articles, [
        {"$search": {"equals": {"path": "size", "value": 30}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [3]
    with pytest.raises(ValueError, match="first pipeline stage"):
        aggregate(articles, [{"$limit": 2}, {"$search": {
            "exists": {"path": "body"}}}])
    out = aggregate(articles, [{"$search": {"exists": {"path": "body"}}}])
    assert "__search_score__" not in out.columns


def test_documents_and_collstats_stages(spark, people):
    got = aggregate(spark.range(0).toDF("x"), [
        {"$documents": [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]},
        {"$match": {"a": {"$gte": 2}}},
    ]).collect()
    assert [(r.a, r.b) for r in got] == [(2, "y")]
    got = aggregate(people, [{"$match": {"age": 34}},
                             {"$collStats": {"count": {}}}])
    assert got.collect()[0]["count"] == 2
    with pytest.raises(ValueError, match="first pipeline stage"):
        aggregate(people, [{"$limit": 1}, {"$documents": [{"a": 1}]}])
    with pytest.raises(ValueError, match="count"):
        aggregate(people, [{"$collStats": {"storageStats": {}}}])


def test_jsonschema_match_semantics(spark):
    df = spark.createDataFrame(
        [(1, "en", 10, ["a"]), (2, None, 5, []), (3, "xx", 10, None),
         (4, "en", None, ["a", "b", "c"])],
        "id long, lang string, n int, tags array<string>")
    got = aggregate(df, [
        {"$match": {"$jsonSchema": {
            "required": ["id"],
            "properties": {
                "lang": {"bsonType": "string", "enum": ["en", "de"]},
                "n": {"bsonType": "int", "minimum": 8},
                "tags": {"bsonType": "array", "maxItems": 2},
            }}}},
        {"$project": {"id": 1}}, {"$sort": {"id": 1}},
    ]).collect()
    # 2: lang null passes (presence semantics) but n=5 < 8 fails
    # 3: lang 'xx' fails enum; 4: n null passes, but 3 tags > maxItems
    assert [r.id for r in got] == [1]
    # missing property passes; required rejects null
    got = aggregate(df, [
        {"$match": {"$jsonSchema": {"required": ["lang"]}}},
        {"$project": {"id": 1}}, {"$sort": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1, 3, 4]
    with pytest.raises(ValueError, match="unsupported \\$jsonSchema"):
        aggregate(df, [{"$match": {"$jsonSchema": {"allOf": []}}}])
    with pytest.raises(ValueError, match="unsupported bsonType"):
        aggregate(df, [{"$match": {"$jsonSchema": {
            "properties": {"id": {"bsonType": "objectId"}}}}}])


def test_out_and_merge_into_live_target(spark, people, tmp_path):
    """$out / $merge with a mongodb:// store_path complete the
    pipeline→live-cluster loop: $out drops + streams per-task insert
    batches through the live datasource writer; $merge journals
    mutations to a spool and bulk-replays them via the live committer."""
    from mongo_hadoop_spark.sources.live_read import StoreBackedCollection

    dest = str(tmp_path / "livedb")
    uri = f"mongodb://localhost/testdb.any?storePath={dest}"
    factory = "mongo_hadoop_spark.sources.live_read:store_client"

    aggregate(people, [{"$match": {"age": {"$gte": 0}}},
                       {"$project": {"id": 1, "name": 1}},
                       {"$out": "profiles"}],
              store_path=uri, client_factory=factory)
    docs = {d["id"]: d["name"]
            for d in StoreBackedCollection(dest, "profiles").find({})}
    assert docs == {1: "ann", 3: "cy", 4: "dee"}

    updates = spark.createDataFrame([(1, "ANN"), (9, "zoe")],
                                    "id long, name string")
    aggregate(updates, [
        {"$merge": {"into": "profiles", "on": "id",
                    "whenMatched": "replace"}}],
        store_path=uri, client_factory=factory,
        spool_path=str(tmp_path / "spool"))
    docs = {d["id"]: d["name"]
            for d in StoreBackedCollection(dest, "profiles").find({})}
    assert docs == {1: "ANN", 3: "cy", 4: "dee", 9: "zoe"}

    # $out replaces: a second $out shrinks the live collection
    aggregate(people, [{"$match": {"id": 1}}, {"$project": {"id": 1}},
                       {"$out": "profiles"}],
              store_path=uri, client_factory=factory)
    assert len(list(StoreBackedCollection(dest, "profiles").find({}))) == 1


# ---------------------------------------------------------------------------
# $search BM25 scoring / $rankFusion / $scoreFusion / bitwise family
# ---------------------------------------------------------------------------


def _bm25_expected(bodies: dict[int, str], terms: list[str]) -> dict[int, float]:
    """Python replica of the stage's integer-exact BM25 (rational idf)."""
    toks = {i: b.lower().split() for i, b in bodies.items() if b is not None}
    n = len(bodies)                       # count(*) includes null-text docs
    tl = sum(len(w) for w in toks.values())
    df = {t: sum(1 for w in toks.values() if t in w) for t in terms}
    out = {}
    for i, w in toks.items():
        dl = len(w)
        score, any_tf = 0.0, 0
        for t in terms:
            tf = w.count(t)
            idf = float(2 * n - 2 * df[t] + 1) / float(2 * df[t] + 1)
            num = float(44 * tf * tl)
            den = float(20 * tf * tl + 6 * tl + 18 * dl * n)
            score = score + idf * (num / den)
            any_tf += tf
        if any_tf > 0:
            out[i] = score
    return out


def test_search_bm25_scores(articles):
    got = aggregate(articles, [
        {"$search": {"text": {"query": "scan window", "path": "body",
                              "bm25": True}}},
        {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
    ]).collect()
    bodies = {1: "Fast scan beats slow scan",
              2: "window functions window window",
              3: "nothing relevant here", 4: None}
    exp = _bm25_expected(bodies, ["scan", "window"])
    assert {r.id: r.score for r in got} == exp
    # rarer term (equal tf/dl elsewhere) outranks: both matched docs have
    # distinct scores — the degenerate all-equal-scores regression
    assert len({r.score for r in got}) == len(got) == 2


def test_search_bm25_rejects_bad_specs(articles):
    with pytest.raises(ValueError, match="top-level text clause"):
        aggregate(articles, [{"$search": {"compound": {"must": [
            {"text": {"query": "scan", "path": "body", "bm25": True}}]}}}])
    with pytest.raises(ValueError, match="no parameters"):
        aggregate(articles, [{"$search": {"text": {
            "query": "scan", "path": "body", "bm25": {"k1": 2.0}}}}])
    with pytest.raises(ValueError, match="single path"):
        aggregate(articles, [{"$search": {"text": {
            "query": "scan", "path": ["body", "body"], "bm25": True}}}])
    with pytest.raises(ValueError, match="non-empty query"):
        aggregate(articles, [{"$search": {"text": {
            "query": "   ", "path": "body", "bm25": True}}}])


def test_rank_fusion_rrf_scores_and_tied_ranks(people):
    got = aggregate(people, [
        {"$rankFusion": {
            "key": "id",
            "input": {"pipelines": {
                "by_bal": [{"$sort": {"bal": -1}}, {"$limit": 3}],
                "by_age": [{"$sort": {"age": -1}}, {"$limit": 3}],
            }},
        }},
        {"$project": {"id": 1, "score": {"$meta": "score"}}},
    ]).collect()
    scores = {r.id: r.score for r in got}
    # by_bal ranks: id2=1, id1=2, id4=3 (null bal last, cut)
    # by_age ranks: id3=1, id1=2, id4=2 (34-tie SHARES rank), null cut
    exp = {1: 1 / 62 + 1 / 62, 2: 1 / 61, 3: 1 / 61, 4: 1 / 63 + 1 / 62}
    assert scores.keys() == exp.keys()
    for i, v in exp.items():
        assert scores[i] == pytest.approx(v, abs=1e-15)
    # fused order: id1 first (two strong ranks)
    assert max(scores, key=scores.get) == 1
    assert "__fusion_score__" not in aggregate(people, [
        {"$rankFusion": {"key": "id", "input": {"pipelines": {
            "b": [{"$sort": {"bal": -1}}, {"$limit": 2}]}}}}]).columns


def test_rank_fusion_weights_and_validation(people):
    got = aggregate(people, [
        {"$rankFusion": {
            "key": "id",
            "input": {"pipelines": {
                "b": [{"$sort": {"bal": -1}}, {"$limit": 2}]}},
            "combination": {"weights": {"b": 3}},
        }},
        {"$project": {"id": 1, "score": {"$meta": "score"}}},
    ]).collect()
    assert {r.id: r.score for r in got} == {2: 3 / 61, 1: 3 / 62}
    with pytest.raises(ValueError, match="candidate-bounded"):
        aggregate(people, [{"$rankFusion": {"key": "id", "input": {
            "pipelines": {"b": [{"$sort": {"bal": -1}}]}}}}])
    with pytest.raises(ValueError, match="needs key"):
        aggregate(people, [{"$rankFusion": {"input": {
            "pipelines": {"b": [{"$sort": {"bal": -1}}, {"$limit": 2}]}}}}])
    with pytest.raises(ValueError, match="unknown pipelines"):
        aggregate(people, [{"$rankFusion": {"key": "id", "input": {
            "pipelines": {"b": [{"$sort": {"bal": -1}}, {"$limit": 2}]}},
            "combination": {"weights": {"nope": 1}}}}])
    with pytest.raises(ValueError, match="ranked pipeline"):
        aggregate(people, [{"$rankFusion": {"key": "id", "input": {
            "pipelines": {"b": [{"$match": {"age": 34}}, {"$limit": 2}]}}}}])
    with pytest.raises(ValueError, match="first pipeline stage"):
        aggregate(people, [{"$limit": 4}, {"$rankFusion": {
            "key": "id", "input": {"pipelines": {
                "b": [{"$sort": {"bal": -1}}, {"$limit": 2}]}}}}])


def test_score_fusion_minmax_and_sigmoid(articles):
    base = {"key": "id", "input": {
        "pipelines": {
            "sw": [{"$search": {"text": {"query": "scan window",
                                         "path": "body"}}}, {"$limit": 5}],
            "nr": [{"$search": {"text": {"query": "nothing",
                                         "path": "body"}}}, {"$limit": 5}],
        },
        "normalization": "minMaxScaler"}}
    got = aggregate(articles, [
        {"$scoreFusion": dict(base)},
        {"$project": {"id": 1, "score": {"$meta": "score"}}},
    ]).collect()
    # sw raw scores: doc1=2, doc2=3 → minMax: doc1=0, doc2=1
    # nr raw scores: doc3=1 → hi==lo edge → 0
    assert {r.id: r.score for r in got} == {1: 0.0, 2: 0.5, 3: 0.0}
    import math
    sig = dict(base);  sig["input"] = dict(base["input"])
    sig["input"]["normalization"] = "sigmoid"
    got = aggregate(articles, [
        {"$scoreFusion": sig},
        {"$project": {"id": 1, "score": {"$meta": "score"}}},
    ]).collect()
    exp = {1: (1 / (1 + math.exp(-2.0))) / 2,
           2: (1 / (1 + math.exp(-3.0))) / 2,
           3: (1 / (1 + math.exp(-1.0))) / 2}
    for r in got:
        assert r.score == pytest.approx(exp[r.id], rel=1e-12)


def test_score_fusion_validation(people, articles):
    with pytest.raises(ValueError, match="must be scored"):
        aggregate(people, [{"$scoreFusion": {"key": "id", "input": {
            "pipelines": {"b": [{"$sort": {"bal": -1}}, {"$limit": 2}]}}}}])
    with pytest.raises(ValueError, match="normalization"):
        aggregate(articles, [{"$scoreFusion": {"key": "id", "input": {
            "pipelines": {"s": [{"$search": {"text": {
                "query": "scan", "path": "body"}}}, {"$limit": 5}]},
            "normalization": "zscore"}}}])
    with pytest.raises(ValueError, match="method"):
        aggregate(articles, [{"$scoreFusion": {"key": "id", "input": {
            "pipelines": {"s": [{"$search": {"text": {
                "query": "scan", "path": "body"}}}, {"$limit": 5}]}},
            "combination": {"method": "expression"}}}])


def test_bitwise_expression_family(spark):
    got = aggregate(spark.range(0).toDF("x"), [
        {"$documents": [{"a": 12, "b": 10}]},
        {"$project": {"ax": {"$bitAnd": ["$a", "$b"]},
                      "ox": {"$bitOr": ["$a", "$b"]},
                      "xx": {"$bitXor": ["$a", "$b", {"$bitNot": "$a"}]},
                      "nx": {"$bitNot": "$b"}}},
    ]).collect()
    (r,) = got
    assert (r.ax, r.ox, r.xx, r.nx) == (
        12 & 10, 12 | 10, 12 ^ 10 ^ ~12, ~10)
    with pytest.raises(ValueError, match="non-empty operand"):
        expr_to_col({"$bitAnd": []})


def test_fusion_candidate_cuts_are_strict_at_gate_scale():
    """Engine-independence pin: the limit-40 cuts inside the hybrid gate
    queries must be tie-free (exactly 40 docs at-or-above the boundary
    score) — a tied cut would make the kept row SET engine-dependent
    even though ranks of ties are shared."""
    import duckdb
    from conftest import SF_SMOKE
    from mongo_hadoop_spark.operators.mongoagg import _fusion_cands_sql
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_SMOKE}/{t}.parquet')")
    vec, txt = con.execute(
        "WITH " + _fusion_cands_sql() + """
        SELECT
          (SELECT count(*) FROM vec_scored WHERE vscore >=
             (SELECT min(vscore) FROM vec_top)),
          (SELECT count(*) FROM bm25 WHERE score >=
             (SELECT min(tscore) FROM txt_top))
        """).fetchone()
    assert (vec, txt) == (40, 40)


# ---------------------------------------------------------------------------
# $lookup pipeline form (let / $$variables, correlated sub-pipeline)
# ---------------------------------------------------------------------------


@pytest.fixture()
def lk_orders(spark):
    return spark.createDataFrame(
        [(1, 100.0), (2, 50.0), (3, 10.0)], "okey long, cap double")


@pytest.fixture()
def lk_items(spark):
    return spark.createDataFrame(
        [(1, 1, 30.0), (1, 2, 120.0), (1, 3, 80.0),
         (2, 1, 45.0), (2, 2, 60.0)],
        "ikey long, line long, price double")


def test_lookup_pipeline_correlated_topk(lk_orders, lk_items):
    got = aggregate(lk_orders, [
        {"$lookup": {
            "from": "items",
            "let": {"k": "$okey", "cap": "$cap"},
            "pipeline": [
                {"$match": {"$expr": {"$and": [
                    {"$eq": ["$ikey", "$$k"]},
                    {"$lte": ["$price", "$$cap"]}]}}},
                {"$project": {"line": 1, "price": 1}},
                {"$sort": {"price": -1, "line": 1}},
                {"$limit": 2}],
            "as": "top"}},
        {"$project": {"okey": 1, "n": {"$size": "$top"},
                      "best": {"$arrayElemAt": ["$top.price", 0]}}},
        {"$sort": {"okey": 1}},
    ], tables={"items": lk_items})
    assert rows(got) == [(1, 2, 80.0), (2, 1, 45.0), (3, 0, None)]


def test_lookup_pipeline_array_order_preserved(lk_orders, lk_items):
    # without $limit the array keeps ALL matches in sub-pipeline sort order
    got = aggregate(lk_orders, [
        {"$match": {"okey": 1}},
        {"$lookup": {
            "from": "items", "let": {"k": "$okey"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$ikey", "$$k"]}}},
                {"$sort": {"price": 1}},
                {"$project": {"price": 1}}],
            "as": "asc"}},
    ], tables={"items": lk_items}).collect()
    assert [e.price for e in got[0].asc] == [30.0, 80.0, 120.0]


def test_lookup_pipeline_uncorrelated_and_plain_match(lk_orders, lk_items):
    # no let/equi key: one-row broadcast of the pre-filtered foreign set
    got = aggregate(lk_orders, [
        {"$lookup": {"from": "items", "pipeline": [
            {"$match": {"price": {"$gte": 60}}},
            {"$sort": {"price": -1}}, {"$limit": 1},
            {"$project": {"price": 1}}],
            "as": "pricey"}},
        {"$project": {"okey": 1, "p": {"$arrayElemAt": ["$pricey.price", 0]}}},
        {"$sort": {"okey": 1}},
    ], tables={"items": lk_items})
    assert rows(got) == [(1, 120.0), (2, 120.0), (3, 120.0)]


def test_lookup_pipeline_validation(lk_orders, lk_items):
    t = {"items": lk_items}
    # no let → uncorrelated path → the full compiler rejects the
    # unbound variable (different message, still loud)
    with pytest.raises(ValueError, match="unbound pipeline variable"):
        aggregate(lk_orders, [{"$lookup": {
            "from": "items", "pipeline": [
                {"$match": {"$expr": {"$eq": ["$ikey", "$$nope"]}}}],
            "as": "x"}}], tables=t)
    with pytest.raises(ValueError, match="undefined variable"):
        # correlated path (let present) keeps its own refusal
        aggregate(lk_orders, [{"$lookup": {
            "from": "items", "let": {"k": "$okey"}, "pipeline": [
                {"$match": {"$expr": {"$eq": ["$ikey", "$$nope"]}}}],
            "as": "x"}}], tables=t)
    with pytest.raises(ValueError, match="foreign field paths must be"):
        # computed operands may not reference foreign fields
        aggregate(lk_orders, [{"$lookup": {
            "from": "items", "let": {"k": "$okey"}, "pipeline": [
                {"$match": {"$expr": {"$eq": [
                    {"$add": ["$ikey", 1]}, "$$k"]}}}],
            "as": "x"}}], tables=t)
    # CORRELATED sub-pipelines still refuse stages beyond the
    # array-compilable subset...
    with pytest.raises(ValueError, match="sub-stage"):
        aggregate(lk_orders, [{"$lookup": {
            "from": "items", "let": {"k": "$okey"},
            "pipeline": [{"$match": {"$expr": {"$eq": ["$ikey", "$$k"]}}},
                         {"$group": {"_id": None}}],
            "as": "x"}}], tables=t)
    with pytest.raises(ValueError, match="inclusion form"):
        aggregate(lk_orders, [{"$lookup": {
            "from": "items", "let": {"k": "$okey"},
            "pipeline": [{"$match": {"$expr": {"$eq": ["$ikey", "$$k"]}}},
                         {"$project": {"price": 0}}],
            "as": "x"}}], tables=t)
    # ...but UNCORRELATED ones (r12) compile the full stage language
    got = aggregate(lk_orders, [{"$lookup": {
        "from": "items", "pipeline": [
            {"$group": {"_id": None, "n": {"$sum": 1}, "t": {"$sum": "$price"}}}],
        "as": "x"}}, {"$sort": {"okey": 1}}], tables=t).collect()
    assert all(len(r.x) == 1 and r.x[0]["n"] == lk_items.count() for r in got)
    got2 = aggregate(lk_orders, [{"$lookup": {
        "from": "items", "pipeline": [{"$project": {"price": 0}}],
        "as": "x"}}], tables=t).collect()
    assert "price" not in got2[0].x[0].asDict()


def test_lookup_pipeline_foreign_to_foreign_residual(lk_orders, lk_items):
    # $gt between two foreign fields is an element-level predicate
    got = aggregate(lk_orders, [
        {"$match": {"okey": 1}},
        {"$lookup": {
            "from": "items", "let": {"k": "$okey"},
            "pipeline": [
                {"$match": {"$expr": {"$and": [
                    {"$eq": ["$ikey", "$$k"]},
                    {"$gt": ["$price", "$line"]}]}}},
                {"$sort": {"line": 1}}, {"$project": {"line": 1}}],
            "as": "m"}},
    ], tables={"items": lk_items}).collect()
    assert [e.line for e in got[0].m] == [1, 2, 3]


def test_search_wildcard_regex_in(articles):
    got = aggregate(articles, [
        {"$search": {"wildcard": {"query": "Fast*", "path": "body"}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1]
    # ? matches exactly one char; anchored whole-value semantics
    got = aggregate(articles, [
        {"$search": {"wildcard": {"query": "Fast scan beats slow sca?",
                                  "path": "body"}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1]
    got = aggregate(articles, [
        {"$search": {"regex": {"query": ".*window.*", "path": "body"}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [2]
    got = aggregate(articles, [
        {"$search": {"in": {"path": "size", "value": [10, 30]}}},
        {"$project": {"id": 1}}, {"$sort": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1, 3]
    # composes under compound as a filter clause
    got = aggregate(articles, [
        {"$search": {"compound": {
            "must": [{"text": {"query": "scan", "path": "body"}}],
            "filter": [{"wildcard": {"query": "*slow*", "path": "body"}}],
        }}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1]


def test_geo_within_box_center_polygon(spark):
    pts = spark.createDataFrame(
        [(1, [5.0, 5.0]), (2, [15.0, 5.0]), (3, [10.0, 10.0]),
         (4, [0.0, 0.0]), (5, [60.0, 28.0]), (6, [95.0, 30.0])],
        "id long, loc array<double>")
    # $box normalizes corners (either order)
    got = aggregate(pts, [
        {"$match": {"loc": {"$geoWithin": {"$box": [[12.0, 8.0], [2.0, 2.0]]}}}},
        {"$project": {"id": 1}}]).collect()
    assert sorted(r.id for r in got) == [1]
    # $center includes the boundary (<= r)
    got = aggregate(pts, [
        {"$match": {"loc": {"$geoWithin": {"$center": [[10.0, 5.0], 5.0]}}}},
        {"$sort": {"id": 1}}, {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1, 2, 3]
    # non-convex polygon: id5 is inside, id6 outside past the far edge
    poly = [(50.0, 10.0), (90.0, 30.0), (60.0, 55.0), (40.0, 25.0)]
    got = aggregate(pts, [
        {"$match": {"loc": {"$geoWithin": {"$polygon": poly}}}},
        {"$project": {"id": 1}}]).collect()
    assert sorted(r.id for r in got) == [5]
    # polygon with a horizontal edge is handled (no div-by-zero); the
    # (0,0) vertex point lands inside under the classic crossing test
    tri = [(0.0, 0.0), (10.0, 0.0), (5.0, 10.0)]
    got = aggregate(pts, [
        {"$match": {"loc": {"$geoWithin": {"$polygon": tri}}}},
        {"$project": {"id": 1}}]).collect()
    assert sorted(r.id for r in got) == [1, 4]


def test_geo_within_center_sphere(spark):
    import math
    pts = spark.createDataFrame(
        [(1, [10.0, 0.0]), (2, [15.0, 0.0]), (3, [0.0, 11.0]),
         (4, [-170.0, 0.0]), (5, [179.0, 0.0])],
        "id long, loc array<double>")
    # 0.2 rad ≈ 11.46°: ids 1 (10° away) and 3 (11°) are in, 2 (15°) out
    got = aggregate(pts, [
        {"$match": {"loc": {"$geoWithin":
                            {"$centerSphere": [[0.0, 0.0], 0.2]}}}},
        {"$project": {"id": 1}}]).collect()
    assert sorted(r.id for r in got) == [1, 3]
    # antimeridian: (179°, 0) is 6° great-circle from (-175°, 0) though
    # 354° apart in raw longitude — the degree-space fold handles it;
    # 0.12 rad ≈ 6.9° takes ids 4 (5°) and 5 (6°), nothing else
    got = aggregate(pts, [
        {"$match": {"loc": {"$geoWithin":
                            {"$centerSphere": [[-175.0, 0.0], 0.12]}}}},
        {"$project": {"id": 1}}]).collect()
    assert sorted(r.id for r in got) == [4, 5]
    # radius >= pi covers the whole sphere
    got = aggregate(pts, [
        {"$match": {"loc": {"$geoWithin":
                            {"$centerSphere": [[0.0, 0.0], math.pi]}}}},
        {"$project": {"id": 1}}]).collect()
    assert len(got) == 5


def test_geo_within_validation(spark):
    pts = spark.createDataFrame([(1, [0.0, 0.0])], "id long, loc array<double>")
    with pytest.raises(ValueError, match="exactly one shape"):
        aggregate(pts, [{"$match": {"loc": {"$geoWithin": {}}}}])
    with pytest.raises(ValueError, match="at least one ring"):
        aggregate(pts, [{"$match": {"loc": {"$geoWithin": {
            "$geometry": {"type": "Polygon", "coordinates": []}}}}}])
    with pytest.raises(ValueError, match="Polygon"):
        aggregate(pts, [{"$match": {"loc": {"$geoWithin": {
            "$geometry": {"type": "Point", "coordinates": [0, 0]}}}}}])
    with pytest.raises(ValueError, match="unsupported"):
        aggregate(pts, [{"$match": {"loc": {"$geoWithin": {
            "$sphere": [(0.0, 0.0), 1.0]}}}}])
    with pytest.raises(ValueError, match="at least 3"):
        aggregate(pts, [{"$match": {"loc": {"$geoWithin": {
            "$polygon": [(0.0, 0.0), (1.0, 1.0)]}}}}])


def test_score_fusion_expression_combination(articles):
    got = aggregate(articles, [
        {"$scoreFusion": {
            "key": "id",
            "input": {
                "pipelines": {
                    "sw": [{"$search": {"text": {"query": "scan window",
                                                 "path": "body"}}},
                           {"$limit": 5}],
                    "nr": [{"$search": {"text": {"query": "nothing",
                                                 "path": "body"}}},
                           {"$limit": 5}],
                },
                "normalization": "minMaxScaler"},
            "combination": {"method": "expression",
                            "expression": {"$add": [
                                {"$multiply": ["$$sw", 10]}, "$$nr"]}},
        }},
        {"$project": {"id": 1, "score": {"$meta": "score"}}},
    ]).collect()
    # sw minMax: doc1=0, doc2=1; nr: doc3 → hi==lo → 0
    assert {r.id: r.score for r in got} == {1: 0.0, 2: 10.0, 3: 0.0}
    with pytest.raises(ValueError, match="needs combination.expression"):
        aggregate(articles, [{"$scoreFusion": {
            "key": "id", "input": {"pipelines": {
                "s": [{"$search": {"text": {"query": "scan",
                                            "path": "body"}}},
                      {"$limit": 5}]}},
            "combination": {"method": "expression"}}}])
    with pytest.raises(ValueError, match="mutually exclusive"):
        aggregate(articles, [{"$scoreFusion": {
            "key": "id", "input": {"pipelines": {
                "s": [{"$search": {"text": {"query": "scan",
                                            "path": "body"}}},
                      {"$limit": 5}]}},
            "combination": {"method": "expression",
                            "expression": "$$s",
                            "weights": {"s": 2}}}}])


def test_search_text_fuzzy_levenshtein(articles):
    # "windoo" is 1 edit from "window": fuzzy matches doc 2's 3 windows
    got = aggregate(articles, [
        {"$search": {"text": {"query": "windoo", "path": "body",
                              "fuzzy": {"maxEdits": 1}}}},
        {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
    ]).collect()
    assert {r.id: r.score for r in got} == {2: 3.0}
    # without fuzzy there is no match
    got = aggregate(articles, [
        {"$search": {"text": {"query": "windoo", "path": "body"}}},
        {"$project": {"id": 1}}]).collect()
    assert got == []
    # default maxEdits is 2 (server default): "windo" ≤2 edits from both
    # "window" and "windows"? here matches "window" tokens only
    got = aggregate(articles, [
        {"$search": {"text": {"query": "wind", "path": "body",
                              "fuzzy": True}}},
        {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
    ]).collect()
    assert {r.id: r.score for r in got} == {2: 3.0}
    with pytest.raises(ValueError, match="maxEdits must be 1 or 2"):
        aggregate(articles, [{"$search": {"text": {
            "query": "x", "path": "body", "fuzzy": {"maxEdits": 3}}}}])


def test_match_all_size_mod_bits(people):
    got = aggregate(people, [
        {"$match": {"tags": {"$all": ["a", "b"]}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1]
    got = aggregate(people, [
        {"$match": {"tags": {"$size": 1}}}, {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [4]
    got = aggregate(people, [
        {"$match": {"id": {"$mod": [2, 0]}}},
        {"$sort": {"id": 1}}, {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [2, 4]
    # id=3 is 0b11: bits {0,1} set
    got = aggregate(people, [
        {"$match": {"id": {"$bitsAllSet": [0, 1]}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [3]
    got = aggregate(people, [
        {"$match": {"id": {"$bitsAnySet": 2}}},
        {"$sort": {"id": 1}}, {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [2, 3]
    got = aggregate(people, [
        {"$match": {"id": {"$bitsAllClear": 1}}},
        {"$sort": {"id": 1}}, {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [2, 4]
    got = aggregate(people, [
        {"$match": {"id": {"$bitsAnyClear": [0, 1]}}},
        {"$sort": {"id": 1}}, {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1, 2, 4]


def test_match_elem_match_scalar_and_document(spark):
    docs = spark.createDataFrame(
        [(1, [5, 15, 30], [{"a": 1, "b": 5}, {"a": 2, "b": 1}]),
         (2, [1, 2], [{"a": 1, "b": 1}]),
         (3, None, None)],
        "id long, xs array<int>, "
        "objs array<struct<a:int, b:int>>")
    # scalar-element form: one element in [10, 20)
    got = aggregate(docs, [
        {"$match": {"xs": {"$elemMatch": {"$gte": 10, "$lt": 20}}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1]
    # document form: an element with a=1 AND b>2
    got = aggregate(docs, [
        {"$match": {"objs": {"$elemMatch": {"a": 1, "b": {"$gt": 2}}}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1]
    with pytest.raises(ValueError, match="non-empty criteria"):
        aggregate(docs, [{"$match": {"xs": {"$elemMatch": {}}}}])
    with pytest.raises(ValueError, match="cannot mix"):
        aggregate(docs, [{"$match": {"objs": {"$elemMatch": {
            "a": 1, "$gt": 2}}}}])


def test_match_type_operator(people):
    got = aggregate(people, [
        {"$match": {"age": {"$type": "int"}}},
        {"$sort": {"id": 1}}, {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1, 3, 4]   # null age (id 2) excluded
    got = aggregate(people, [
        {"$match": {"bal": {"$type": ["number"]}}},
        {"$sort": {"id": 1}}, {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1, 2, 4]
    got = aggregate(people, [
        {"$match": {"name": {"$type": 2}}},   # numeric alias: string
        {"$sort": {"id": 1}}, {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1, 2, 3, 4]
    with pytest.raises(ValueError, match="type alias"):
        aggregate(people, [{"$match": {"name": {"$type": "javascript"}}}])


def test_merge_when_matched_pipeline(spark, tmp_path):
    """$merge whenMatched as an update pipeline with $$new: matched docs
    accumulate via {$add: ["$total", "$$new.total"]}; an upsert miss
    runs the pipeline over the key seed (documented pipeline-upsert
    semantics — the journal replays identically through pymongo)."""
    from mongo_hadoop_spark.store import DocumentStore

    store = str(tmp_path / "mergepipe")
    base = spark.createDataFrame([(1, 100.0), (2, 50.0)],
                                 "id long, total double")
    aggregate(base, [{"$out": "acc"}], store_path=store)
    incoming = spark.createDataFrame([(1, 7.0), (3, 5.0)],
                                     "id long, total double")
    aggregate(incoming, [
        {"$merge": {"into": "acc", "on": "id",
                    "whenMatched": [
                        {"$set": {"total": {"$add": [
                            {"$ifNull": ["$total", 0]},
                            "$$new.total"]},
                            "merged": True}}],
                    "whenNotMatched": "insert"}}], store_path=store)
    docs = {d["id"]: (d.get("total"), d.get("merged"))
            for d in DocumentStore(store).collection("acc").find()}
    assert docs[1] == (107.0, True)       # matched: accumulated
    assert docs[2] == (50.0, None)        # untouched
    assert docs[3] == (5.0, True)         # miss: seed {id:3} + pipeline
    with pytest.raises(ValueError, match="non-empty"):
        aggregate(incoming, [
            {"$merge": {"into": "acc", "on": "id", "whenMatched": []}}],
            store_path=store)


def test_merge_pipeline_into_live_target(spark, tmp_path):
    """whenMatched pipelines replay through the live committer too: the
    journaled update is a plain (literal-bound) pipeline, legal for any
    pymongo-protocol bulk_write."""
    from mongo_hadoop_spark.sources.live_read import StoreBackedCollection

    dest = str(tmp_path / "livepipe")
    uri = f"mongodb://localhost/testdb.any?storePath={dest}"
    factory = "mongo_hadoop_spark.sources.live_read:store_client"

    base = spark.createDataFrame([(1, 10.0)], "id long, total double")
    aggregate(base, [{"$out": "acc"}], store_path=uri,
              client_factory=factory)
    incoming = spark.createDataFrame([(1, 2.5), (2, 1.0)],
                                     "id long, total double")
    aggregate(incoming, [
        {"$merge": {"into": "acc", "on": "id",
                    "whenMatched": [{"$set": {"total": {"$add": [
                        {"$ifNull": ["$total", 0]}, "$$new.total"]}}}]}}],
        store_path=uri, client_factory=factory,
        spool_path=str(tmp_path / "spool"))
    docs = {d["id"]: d["total"]
            for d in StoreBackedCollection(dest, "acc").find({})}
    assert docs == {1: 12.5, 2: 1.0}


def test_convert_and_date_from_string(spark):
    src = spark.createDataFrame(
        [("42", "nope", None, "2021-03-04 05:06:07")],
        "s string, bad string, missing string, d string")
    got = aggregate(src, [
        {"$project": {
            "n": {"$convert": {"input": "$s", "to": "int"}},
            "nerr": {"$convert": {"input": "$bad", "to": "int",
                                  "onError": -1}},
            "nnull": {"$convert": {"input": "$missing", "to": "long",
                                   "onNull": 0}},
            "code": {"$convert": {"input": "$s", "to": 1}},
            "ts": {"$dateFromString": {"dateString": "$d",
                                       "format": "%Y-%m-%d %H:%M:%S"}},
            "tserr": {"$dateFromString": {"dateString": "$bad",
                                          "format": "%Y-%m-%d",
                                          "onError": None}},
        }},
    ]).collect()
    (r,) = got
    assert (r.n, r.nerr, r.nnull, r.code) == (42, -1, 0, 42.0)
    assert r.ts.year == 2021 and r.ts.second == 7
    assert r.tserr is None
    with pytest.raises(ValueError, match="convert target"):
        expr_to_col({"$convert": {"input": "$s", "to": "objectId"}})


def test_iso_date_parts(spark):
    got = aggregate(spark.range(0).toDF("x"), [
        {"$documents": [{"d": "2024-01-01 12:00:00.250"}]},   # a Monday
        {"$project": {
            "ts": {"$toDate": "$d"},
        }},
        {"$project": {
            "iw": {"$isoWeek": "$ts"},
            "idow": {"$isoDayOfWeek": "$ts"},
            "ms": {"$millisecond": "$ts"},
            "dow": {"$dayOfWeek": "$ts"},
        }},
    ]).collect()
    (r,) = got
    assert (r.iw, r.idow, r.ms, r.dow) == (1, 1, 250, 2)


def test_search_autocomplete_and_score_options(articles):
    got = aggregate(articles, [
        {"$search": {"autocomplete": {"query": "win", "path": "body"}}},
        {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
    ]).collect()
    assert {r.id: r.score for r in got} == {2: 3.0}
    # boost multiplies, constant replaces; both compose under compound
    got = aggregate(articles, [
        {"$search": {"compound": {"should": [
            {"text": {"query": "scan", "path": "body",
                      "score": {"boost": {"value": 10}}}},
            {"phrase": {"query": "slow scan", "path": "body",
                        "score": {"constant": {"value": 0.5}}}},
        ]}}},
        {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
    ]).collect()
    assert {r.id: r.score for r in got} == {1: 20.5}
    with pytest.raises(ValueError, match="score option"):
        aggregate(articles, [{"$search": {"text": {
            "query": "scan", "path": "body",
            "score": {"function": {}}}}}])


def test_geo_within_polygon_matches_python_raycast(spark):
    """Property pin: the compiled even-odd crossing test must agree with
    a reference Python ray caster on random polygons × random points
    (excluding points that fall exactly on an edge — boundary behavior
    is tie-breaking noise both implementations share anyway since they
    evaluate the SAME IEEE expressions)."""
    import random

    from mongo_hadoop_spark.plans.aggpipe import aggregate

    rng = random.Random(7)

    def py_inside(x, y, verts):
        inside = False
        for (xi, yi), (xj, yj) in zip(verts, verts[-1:] + verts[:-1]):
            if yj == yi:
                continue
            if (yi > y) != (yj > y) and \
                    x < (xj - xi) * (y - yi) / (yj - yi) + xi:
                inside = not inside
        return inside

    for trial in range(6):
        n = rng.randint(3, 7)
        verts = [(round(rng.uniform(0, 20), 2), round(rng.uniform(0, 20), 2))
                 for _ in range(n)]
        pts = [(i, [round(rng.uniform(-2, 22), 3),
                    round(rng.uniform(-2, 22), 3)])
               for i in range(40)]
        df = spark.createDataFrame(pts, "id long, loc array<double>")
        got = {r.id for r in aggregate(df, [
            {"$match": {"loc": {"$geoWithin": {"$polygon": verts}}}},
            {"$project": {"id": 1}}]).collect()}
        want = {i for i, (x, y) in pts if py_inside(x, y, verts)}
        assert got == want, (trial, verts, sorted(got ^ want))


def test_search_more_like_this(articles):
    got = aggregate(articles, [
        {"$search": {"moreLikeThis": {"like": {"body": "scan window"}}}},
        {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
    ]).collect()
    assert {r.id: r.score for r in got} == {1: 2.0, 2: 3.0}
    # non-string like fields are skipped; several like docs accumulate
    got = aggregate(articles, [
        {"$search": {"moreLikeThis": {"like": [
            {"body": "scan", "size": 10},
            {"body": "window"}]}}},
        {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
    ]).collect()
    assert {r.id: r.score for r in got} == {1: 2.0, 2: 3.0}
    with pytest.raises(ValueError, match="non-empty documents"):
        aggregate(articles, [{"$search": {"moreLikeThis": {"like": [{}]}}}])


def test_review_fixes_round5(spark, people, lk_orders, lk_items, articles):
    # {$all: []} matches NO documents (server semantics)
    got = aggregate(people, [{"$match": {"tags": {"$all": []}}}]).collect()
    assert got == []
    # $dateFromString: null input yields null even with onError set
    src = spark.createDataFrame([("x", None)], "bad string, d string")
    (r,) = aggregate(src, [{"$project": {
        "t": {"$dateFromString": {"dateString": "$d", "format": "%Y-%m-%d",
                                  "onError": "$bad"}}}}]).collect()
    assert r.t is None
    # $lookup concise correlated form: localField/foreignField + pipeline
    got = aggregate(lk_orders, [
        {"$lookup": {"from": "items",
                     "localField": "okey", "foreignField": "ikey",
                     "pipeline": [{"$match": {"price": {"$gte": 60}}},
                                  {"$project": {"price": 1}},
                                  {"$sort": {"price": 1}}],
                     "as": "m"}},
        {"$project": {"okey": 1, "n": {"$size": "$m"}}},
        {"$sort": {"okey": 1}},
    ], tables={"items": lk_items})
    assert rows(got) == [(1, 2), (2, 1), (3, 0)]
    with pytest.raises(ValueError, match="BOTH localField"):
        aggregate(lk_orders, [{"$lookup": {
            "from": "items", "localField": "okey",
            "pipeline": [], "as": "m"}}], tables={"items": lk_items})
    # fusion boundedness: $limit before a row-multiplying stage is NOT
    # a bound
    with pytest.raises(ValueError, match="candidate-bounded"):
        aggregate(people, [{"$rankFusion": {"key": "id", "input": {
            "pipelines": {"b": [{"$limit": 3}, {"$unwind": "$tags"},
                                {"$sort": {"tags": 1}}]}}}}])


def test_pipeline_update_project_keeps_present_nulls():
    from mongo_hadoop_spark.plans.updates import apply_update_pipeline

    doc = {"_id": 1, "a": None, "b": 2}
    apply_update_pipeline(doc, [{"$project": {"a": 1, "b": 1}}])
    assert doc == {"_id": 1, "a": None, "b": 2}
    # a genuinely MISSING field stays missing
    doc = {"_id": 1, "b": 2}
    apply_update_pipeline(doc, [{"$project": {"a": 1, "b": 1}}])
    assert doc == {"_id": 1, "b": 2}


def test_compound_minimum_should_match(articles):
    shoulds = [{"text": {"query": "scan", "path": "body"}},
               {"text": {"query": "window", "path": "body"}},
               {"text": {"query": "fast", "path": "body"}}]
    # doc1 matches scan+fast (2), doc2 matches window (1)
    got = aggregate(articles, [
        {"$search": {"compound": {"should": shoulds,
                                  "minimumShouldMatch": 2}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1]
    # with a filter present, minimumShouldMatch still applies
    got = aggregate(articles, [
        {"$search": {"compound": {
            "filter": [{"exists": {"path": "body"}}],
            "should": shoulds, "minimumShouldMatch": 2}}},
        {"$project": {"id": 1}}]).collect()
    assert [r.id for r in got] == [1]
    with pytest.raises(ValueError, match="needs should"):
        aggregate(articles, [{"$search": {"compound": {
            "must": [{"text": {"query": "scan", "path": "body"}}],
            "minimumShouldMatch": 1}}}])


def test_merge_let_variables(spark, tmp_path):
    from mongo_hadoop_spark.store import DocumentStore

    store = str(tmp_path / "mergelet")
    base = spark.createDataFrame([(1, 100.0)], "id long, total double")
    aggregate(base, [{"$out": "acc"}], store_path=store)
    incoming = spark.createDataFrame([(1, 6.0, 2.0)],
                                     "id long, total double, w double")
    aggregate(incoming, [
        {"$merge": {"into": "acc", "on": "id",
                    "let": {"wt": {"$multiply": ["$total", "$w"]}},
                    "whenMatched": [{"$set": {"total": {"$add": [
                        "$total", "$$wt"]}}}]}}], store_path=store)
    docs = {d["id"]: d["total"]
            for d in DocumentStore(store).collection("acc").find()}
    assert docs == {1: 112.0}
    with pytest.raises(Exception, match="undefined variable"):
        aggregate(incoming, [
            {"$merge": {"into": "acc", "on": "id",
                        "whenMatched": [{"$set": {
                            "total": "$$nope"}}]}}], store_path=store)


def test_densify_partition_bounds(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 4, 40.0), ("b", 7, 70.0), ("b", 8, 80.0)],
        "grp string, x long, v double")
    got = aggregate(df, [
        {"$densify": {"field": "x",
                      "partitionByFields": ["grp"],
                      "range": {"step": 1, "bounds": "partition"}}},
        {"$sort": {"grp": 1, "x": 1}},
    ]).collect()
    # each partition densifies over ITS OWN min..max: a → 1..4, b → 7..8
    assert [(r.grp, r.x, r.v) for r in got] == [
        ("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, 40.0),
        ("b", 7, 70.0), ("b", 8, 80.0)]
    with pytest.raises(ValueError, match="partitionByFields"):
        aggregate(df, [{"$densify": {
            "field": "x", "range": {"step": 1, "bounds": "partition"}}}])


def test_merge_when_not_matched_fail(spark, tmp_path):
    from mongo_hadoop_spark.store import DocumentStore

    store = str(tmp_path / "mergenotfail")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    aggregate(base, [{"$out": "t"}], store_path=store)
    # all incoming match → merge applies normally
    ok = spark.createDataFrame([(1, "A")], "id long, v string")
    aggregate(ok, [{"$merge": {"into": "t", "on": "id",
                               "whenMatched": "merge",
                               "whenNotMatched": "fail"}}],
              store_path=store)
    docs = {d["id"]: d["v"] for d in DocumentStore(store).collection("t").find()}
    assert docs == {1: "A", 2: "b"}
    # a miss raises; nothing is inserted
    bad = spark.createDataFrame([(2, "B"), (9, "z")], "id long, v string")
    with pytest.raises(ValueError, match="whenNotMatched:fail"):
        aggregate(bad, [{"$merge": {"into": "t", "on": "id",
                                    "whenMatched": "merge",
                                    "whenNotMatched": "fail"}}],
                  store_path=store)
    docs = {d["id"]: d["v"] for d in DocumentStore(store).collection("t").find()}
    assert docs == {1: "A", 2: "B"} and 9 not in docs
    # fail × fail is rejected up front
    with pytest.raises(ValueError, match="unsupported \\$merge mode"):
        aggregate(bad, [{"$merge": {"into": "t", "on": "id",
                                    "whenMatched": "fail",
                                    "whenNotMatched": "fail"}}],
                  store_path=store)


def test_merge_system_vars_and_let_shadow(spark, tmp_path):
    from mongo_hadoop_spark.store import DocumentStore

    store = str(tmp_path / "mergesys")
    base = spark.createDataFrame([(1, "a", 5.0)],
                                 "id long, v string, junk double")
    aggregate(base, [{"$out": "t"}], store_path=store)
    inc = spark.createDataFrame([(1, "z")], "id long, v string")
    # $$REMOVE deletes a field; $$ROOT.<path> reads the TARGET doc
    aggregate(inc, [{"$merge": {"into": "t", "on": "id",
                                "whenMatched": [
                                    {"$set": {"junk": "$$REMOVE",
                                              "old_v": "$$ROOT.v",
                                              "v": "$$new.v"}}]}}],
              store_path=store)
    (doc,) = DocumentStore(store).collection("t").find()
    assert doc == {"id": 1, "v": "z", "old_v": "a"}
    # an explicit let named "new" SHADOWS the builtin binding
    aggregate(inc, [{"$merge": {"into": "t", "on": "id",
                                "let": {"new": {"$literal": {"v": "LET"}}},
                                "whenMatched": [
                                    {"$set": {"v": "$$new.v"}}]}}],
              store_path=store)
    (doc,) = DocumentStore(store).collection("t").find()
    assert doc["v"] == "LET"


def test_merge_when_not_matched_fail_live(spark, tmp_path):
    from mongo_hadoop_spark.sources.live_read import StoreBackedCollection

    dest = str(tmp_path / "livenotfail")
    uri = f"mongodb://localhost/db.t?storePath={dest}"
    factory = "mongo_hadoop_spark.sources.live_read:store_client"
    base = spark.createDataFrame([(1, "a")], "id long, v string")
    aggregate(base, [{"$out": "t"}], store_path=uri, client_factory=factory)
    ok = spark.createDataFrame([(1, "A")], "id long, v string")
    aggregate(ok, [{"$merge": {"into": "t", "on": "id",
                               "whenMatched": "merge",
                               "whenNotMatched": "fail"}}],
              store_path=uri, client_factory=factory,
              spool_path=str(tmp_path / "sp1"))
    assert [d["v"] for d in StoreBackedCollection(dest, "t").find({})] == ["A"]
    bad = spark.createDataFrame([(9, "x")], "id long, v string")
    with pytest.raises(ValueError, match="whenNotMatched:fail"):
        aggregate(bad, [{"$merge": {"into": "t", "on": "id",
                                    "whenMatched": "merge",
                                    "whenNotMatched": "fail"}}],
                  store_path=uri, client_factory=factory,
                  spool_path=str(tmp_path / "sp2"))
    assert len(list(StoreBackedCollection(dest, "t").find({}))) == 1


def test_search_query_string(articles):
    def run(q, default="body"):
        return sorted(r.id for r in aggregate(articles, [
            {"$search": {"queryString": {"defaultPath": default,
                                         "query": q}}},
            {"$project": {"id": 1}}]).collect())

    assert run("scan") == [1]
    assert run("scan OR window") == [1, 2]
    assert run("scan window") == [1, 2]            # bare juxtaposition = OR
    assert run("scan AND slow") == [1]
    assert run("scan AND NOT slow") == []
    assert run("(scan OR window) AND NOT body:beats") == [2]
    assert run('body:"slow scan"') == [1]
    assert run("wind*") == [2]
    assert run("sc?n") == [1]
    with pytest.raises(ValueError, match="unbalanced"):
        run("(scan OR window")
    with pytest.raises(ValueError, match="dangling operator"):
        run("AND scan")
    with pytest.raises(ValueError, match="unexpected end"):
        run("scan AND NOT")


def test_query_string_parser_roundtrip_property():
    """Property pin for the queryString parser: render a random AST to
    Lucene syntax, parse it back, and require the SAME AST (modulo the
    n-ary flattening the renderer avoids by always parenthesizing)."""
    import random

    from mongo_hadoop_spark.plans.aggpipe import _parse_query_string

    rng = random.Random(11)
    words = ["scan", "merge", "batch", "wind*", "sc?n", "row"]
    fields = [None, "body", "title"]

    def gen(depth):
        r = rng.random()
        if depth >= 3 or r < 0.45:
            f = rng.choice(fields)
            if rng.random() < 0.2:
                return ("phrase", f, f"{rng.choice(words)} {rng.choice(words)}")
            return ("term", f, rng.choice(words))
        if r < 0.6:
            return ("not", gen(depth + 1))
        kind = rng.choice(["and", "or"])
        return (kind, [gen(depth + 1) for _ in range(rng.randint(2, 3))])

    def render(node):
        kind = node[0]
        if kind == "term":
            return (f"{node[1]}:{node[2]}" if node[1] else node[2])
        if kind == "phrase":
            body = f'"{node[2]}"'
            return f"{node[1]}:{body}" if node[1] else body
        if kind == "not":
            return f"NOT {render(node[1])}"
        joiner = " AND " if kind == "and" else " OR "
        return "(" + joiner.join(render(n) for n in node[1]) + ")"

    for _ in range(300):
        ast = gen(0)
        assert _parse_query_string(render(ast)) == ast, render(ast)


def test_search_querystring_not_is_prohibition(articles):
    """Regression (round-6 advice): Lucene classic parsing makes NOT
    clauses MUST_NOT of the enclosing boolean group — 'a NOT b' means
    (a) AND NOT (b), never a OR (NOT b)."""
    def run(q):
        return sorted(r.id for r in aggregate(articles, [
            {"$search": {"queryString": {"defaultPath": "body",
                                         "query": q}}},
            {"$project": {"id": 1}}]).collect())

    assert run("scan NOT slow") == []          # doc 1 has 'slow'
    assert run("window NOT slow") == [2]
    assert run("scan OR window NOT slow") == [2]
    # pure-negative group = conjunction of prohibitions (null body
    # fails no prohibition, so doc 4 qualifies)
    assert run("NOT slow NOT nothing") == [2, 4]
    # explicit AND NOT unchanged
    assert run("scan AND NOT beats") == []


def test_search_phrase_token_boundaries(spark):
    """Regression (round-6 advice): phrase matching is token-anchored —
    'cat dog' must not match ['concat','dogs'] or ['cat','dogma'] —
    and back-to-back occurrences are each counted."""
    df = spark.createDataFrame(
        [(1, "concat dogs"), (2, "cat dog"), (3, "cat dog cat dog"),
         (4, "the cat dogma")],
        "id long, body string")
    got = aggregate(df, [
        {"$search": {"phrase": {"query": "cat dog", "path": "body"}}},
        {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
    ]).collect()
    assert {r.id: r.score for r in got} == {2: 1, 3: 2}
    # queryString phrases follow the same boundary rule
    got = aggregate(df, [
        {"$search": {"queryString": {"defaultPath": "body",
                                     "query": 'body:"cat dog"'}}},
        {"$project": {"id": 1}}]).collect()
    assert sorted(r.id for r in got) == [2, 3]


def test_search_bm25_rational_idf_ranking_agreement(spark):
    """Round-6 verdict item 7: the rational-surrogate idf (u instead of
    Lucene's ln(1+u)) is per-term monotone but reweights multi-term sums
    toward rare terms.  Characterize the deviation on a worst-case
    common+rare term mix: 90 docs sweeping common/medium tf and length,
    plus 3 docs holding a genuinely rare term (df=3 of 93).  The pin:
    pairwise ranking agreement with TRUE BM25 (same k1=1.2/b=0.75 tf
    part, ln(1+u) idf) must stay >= 0.99, the top document identical,
    and top-10 overlap >= 8 — measured 0.9953 / same / 9 when written."""
    import itertools
    import math

    bodies, i = {}, 0
    for tf_c in range(10):
        for tf_m in range(3):
            for pad in (5, 30, 120):
                bodies[i] = " ".join(
                    ["cat"] * tf_c + ["med"] * tf_m + ["pad"] * pad)
                i += 1
    bodies[i] = " ".join(["zyx"] + ["pad"] * 50); i += 1
    bodies[i] = " ".join(["zyx", "cat", "cat"] + ["pad"] * 10); i += 1
    bodies[i] = " ".join(["zyx"] * 2 + ["med"] + ["pad"] * 200); i += 1

    df_in = spark.createDataFrame(
        [(k, v) for k, v in bodies.items()], ["id", "body"])
    got = aggregate(df_in, [
        {"$search": {"text": {"query": "cat med zyx", "path": "body",
                              "bm25": True}}},
        {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
    ]).collect()
    sur = {r.id: r.score for r in got}

    # true BM25: identical integer-exact tf part, Lucene ln(1+u) idf
    toks = {k: v.split() for k, v in bodies.items()}
    n = len(bodies)
    tl = sum(len(w) for w in toks.values())
    dfreq = {t: sum(1 for w in toks.values() if t in w)
             for t in ("cat", "med", "zyx")}
    true = {}
    for k, w in toks.items():
        dl, s, any_tf = len(w), 0.0, 0
        for t in ("cat", "med", "zyx"):
            tf = w.count(t)
            u = (2 * n - 2 * dfreq[t] + 1) / (2 * dfreq[t] + 1)
            s += math.log1p(u) * (44 * tf * tl) / (
                20 * tf * tl + 6 * tl + 18 * dl * n)
            any_tf += tf
        if any_tf:
            true[k] = s
    assert set(sur) == set(true)          # identical match sets

    pairs = agree = 0
    for a, c in itertools.combinations(sorted(sur), 2):
        if true[a] == true[c] or sur[a] == sur[c]:
            continue
        pairs += 1
        agree += (true[a] > true[c]) == (sur[a] > sur[c])
    assert pairs > 3000                   # the sweep is non-degenerate
    assert agree / pairs >= 0.99, f"agreement {agree / pairs:.4f}"
    top_true = sorted(true, key=lambda k: -true[k])
    top_sur = sorted(sur, key=lambda k: -sur[k])
    assert top_true[0] == top_sur[0]
    assert len(set(top_true[:10]) & set(top_sur[:10])) >= 8


def test_search_meta_count_and_facets(articles):
    got = aggregate(articles, [{"$searchMeta": {
        "text": {"query": "scan", "path": "body"},
        "count": {"type": "total"}}}]).collect()
    assert len(got) == 1 and got[0]["count"]["total"] == 1
    meta = aggregate(articles, [{"$searchMeta": {"facet": {
        "facets": {"ids": {"type": "number", "path": "id",
                           "boundaries": [0, 3, 10]}}}}}]).collect()[0]
    # default lowerBound count; no operator → all 4 docs counted
    assert meta["count"]["lowerBound"] == 4
    buckets = {b["_id"]: b["count"] for b in meta["facet"]["ids"]["buckets"]}
    assert buckets == {"0": 2, "3": 2}     # ids 1,2 | 3,4; _id as string


def test_search_meta_string_facet_top_k_ordering(spark):
    from pyspark.sql import Row
    df = spark.createDataFrame(
        [Row(id=i, tag=t) for i, t in
         enumerate(["a"] * 5 + ["b"] * 5 + ["c"] * 2)])
    meta = aggregate(df, [{"$searchMeta": {"facet": {
        "facets": {"tags": {"type": "string", "path": "tag",
                            "numBuckets": 2}}}}}]).collect()[0]
    got = [(b["_id"], b["count"]) for b in meta["facet"]["tags"]["buckets"]]
    # ties broken by _id asc; k=2 cuts 'c'
    assert got == [("a", 5), ("b", 5)]


def test_search_meta_rejections(articles):
    with pytest.raises(ValueError, match="first pipeline stage"):
        aggregate(articles, [{"$match": {}}, {"$searchMeta": {
            "text": {"query": "x", "path": "body"}}}])
    with pytest.raises(ValueError, match="count.type"):
        aggregate(articles, [{"$searchMeta": {
            "text": {"query": "x", "path": "body"},
            "count": {"type": "approx"}}}])
    with pytest.raises(ValueError, match="ascending boundaries"):
        aggregate(articles, [{"$searchMeta": {"facet": {
            "facets": {"bad": {"type": "number", "path": "id",
                               "boundaries": [5, 1]}}}}}])
    with pytest.raises(ValueError, match="string|number"):
        aggregate(articles, [{"$searchMeta": {"facet": {
            "facets": {"bad": {"type": "date", "path": "id"}}}}}])


def test_to_object_id_and_js_random_refusals(people):
    got = aggregate(people, [
        {"$project": {"id": 1, "oid": {"$toObjectId":
            {"$literal": "0123456789ABCDEF01234567"}}}},
        {"$limit": 1},
    ]).collect()
    assert got[0]["oid"] == "0123456789abcdef01234567"   # lowercased
    bad = aggregate(people, [
        {"$project": {"oid": {"$toObjectId": {"$literal": "nope"}}}},
        {"$limit": 1}]).collect()
    assert bad[0]["oid"] is None
    for expr, msg in [({"$function": {"body": "x", "args": [], "lang": "js"}},
                       "JavaScript"),
                      ({"$accumulator": {}}, "JavaScript")]:
        with pytest.raises(ValueError, match=msg):
            aggregate(people, [{"$project": {"x": expr}}])
    # $sampleRate is SUPPORTED as of r8 and $rand as of r9 (both are
    # the deterministic md5-of-row gate — see
    # test_sample_rate_deterministic / test_rand_deterministic_md5_gate);
    # only the server-side-JavaScript operators still refuse here
    with pytest.raises(ValueError, match="JavaScript"):
        aggregate(people, [{"$match": {"$where": "this.x > 1"}}])


def test_exp_moving_avg_recurrence_and_rejections(spark):
    from pyspark.sql import Row
    df = spark.createDataFrame(
        [Row(g=1, i=1, v=1.0), Row(g=1, i=2, v=2.0), Row(g=1, i=3, v=4.0),
         Row(g=2, i=1, v=10.0)])
    got = aggregate(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"i": 1},
        "output": {"ema": {"$expMovingAvg": {"input": "$v", "N": 3}}}}}])
    vals = {(r["g"], r["i"]): r["ema"] for r in got.collect()}
    # alpha = 2/(3+1) = 0.5: s = 1, 1.5, 2.75; partitions independent
    assert vals == {(1, 1): 1.0, (1, 2): 1.5, (1, 3): 2.75, (2, 1): 10.0}
    # alpha form
    got2 = aggregate(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"i": 1},
        "output": {"ema": {"$expMovingAvg": {"input": "$v",
                                             "alpha": 0.25}}}}}])
    v2 = {(r["g"], r["i"]): r["ema"] for r in got2.collect()}
    assert v2[(1, 2)] == 0.25 * 2.0 + 0.75 * 1.0
    with pytest.raises(ValueError, match="requires sortBy"):
        aggregate(df, [{"$setWindowFields": {
            "partitionBy": "$g",
            "output": {"e": {"$expMovingAvg": {"input": "$v", "N": 3}}}}}])
    with pytest.raises(ValueError, match="exactly one of"):
        aggregate(df, [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"i": 1},
            "output": {"e": {"$expMovingAvg": {"input": "$v", "N": 3,
                                               "alpha": 0.5}}}}}])
    with pytest.raises(ValueError, match="does not accept a window"):
        aggregate(df, [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"i": 1},
            "output": {"e": {"$expMovingAvg": {"input": "$v", "N": 3},
                             "window": {"documents": [-1, 0]}}}}}])


def test_search_highlight_segments(spark):
    from pyspark.sql import Row
    df = spark.createDataFrame([
        Row(id=1, body="Fast scan beats slow scan today"),
        Row(id=2, body="nothing here"),
    ])
    got = aggregate(df, [
        {"$search": {"text": {"query": "scan beats", "path": "body",
                              "highlight": {"path": "body"}}}},
        {"$project": {"id": 1, "hl": {"$meta": "searchHighlights"}}},
    ]).collect()
    assert [r["id"] for r in got] == [1]
    (passage,) = got[0]["hl"]
    assert passage["path"] == "body" and passage["score"] == 3.0
    segs = [(t["value"], t["type"]) for t in passage["texts"]]
    # maximal alternating runs, original case preserved, reassembles doc
    assert segs == [("Fast", "text"), ("scan beats", "hit"),
                    ("slow", "text"), ("scan", "hit"), ("today", "text")]
    assert " ".join(v for v, _ in segs) == "Fast scan beats slow scan today"
    with pytest.raises(ValueError, match="single path"):
        aggregate(df, [{"$search": {"text": {
            "query": "scan", "path": "body",
            "highlight": {"path": ["body", "body"]}}}}])
    with pytest.raises(ValueError, match="text/phrase"):
        aggregate(df, [{"$search": {"wildcard": {
            "query": "sc*", "path": "body",
            "highlight": {"path": "body"}}}}])


def test_byte_level_and_iso_year_and_ts_ops(spark):
    import datetime

    from pyspark.sql import Row
    df = spark.createDataFrame([Row(
        s="héllo wörld",
        d=datetime.date(2021, 1, 1),      # ISO week-year 2020 (week 53)
        bts=Row(t=1634000000, i=7),
    )])
    got = aggregate(df, [{"$project": {
        "iwy": {"$isoWeekYear": "$d"},
        # 'héllo' bytes: h=0, é=1-2, l=3 → 3 bytes starting at byte 1 = 'él'
        "sb": {"$substrBytes": ["$s", 1, 3]},
        "ib": {"$indexOfBytes": ["$s", "llo"]},
        "ib_range": {"$indexOfBytes": ["$s", "l", 4, 11]},
        "ib_miss": {"$indexOfBytes": ["$s", "zzz"]},
        "tss": {"$tsSecond": "$bts"},
        "tsi": {"$tsIncrement": "$bts"},
    }}]).collect()[0]
    assert got["iwy"] == 2020
    assert got["sb"] == "él"
    assert got["ib"] == 3          # byte offset, not char offset (2)
    assert got["ib_range"] == 4
    assert got["ib_miss"] == -1
    assert got["tss"] == 1634000000 and got["tsi"] == 7


def test_to_uuid(people):
    got = aggregate(people, [
        {"$project": {
            "u": {"$toUUID": {"$literal":
                  "A1B2C3D4-E5F6-7890-ABCD-EF0123456789"}},
            "bad": {"$toUUID": {"$literal": "not-a-uuid"}},
        }},
        {"$limit": 1}]).collect()[0]
    assert got["u"] == "a1b2c3d4-e5f6-7890-abcd-ef0123456789"
    assert got["bad"] is None


def test_search_highlight_with_fuzzy_matches_widened_tokens(spark):
    """Round-6 review finding: a fuzzy text match must highlight the
    fuzzy-matched token, not return an empty passage."""
    from pyspark.sql import Row
    df = spark.createDataFrame([Row(id=1, body="he scans the table")])
    got = aggregate(df, [
        {"$search": {"text": {"query": "scan", "path": "body",
                              "fuzzy": {"maxEdits": 1},
                              "highlight": {"path": "body"}}}},
        {"$project": {"id": 1, "hl": {"$meta": "searchHighlights"}}},
    ]).collect()
    assert [r["id"] for r in got] == [1]
    (p,) = got[0]["hl"]
    assert p["score"] == 1.0
    assert [(t["value"], t["type"]) for t in p["texts"]] == [
        ("he", "text"), ("scans", "hit"), ("the table", "text")]


def test_exp_moving_avg_null_values_skipped(spark):
    """Round-6 review finding: null inputs must be skipped (server
    ignores non-numeric values), including an all-null prefix."""
    from pyspark.sql import Row
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    schema = StructType([StructField("g", LongType()),
                         StructField("i", LongType()),
                         StructField("v", DoubleType())])
    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, 1.0), (1, 3, None), (1, 4, 2.0)],
        schema)
    got = {r["i"]: r["ema"] for r in aggregate(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"i": 1},
        "output": {"ema": {"$expMovingAvg": {"input": "$v", "N": 3}}},
    }}]).collect()}
    assert got[1] is None          # no numeric value yet
    assert got[2] == 1.0
    assert got[3] == 1.0           # null skipped, EMA carried
    assert got[4] == 1.5


def test_exp_moving_avg_oracle_agrees_on_null_corpus(spark, tmp_path):
    """Cross-engine: the registry query and its DuckDB oracle must agree
    even when events.value contains NULLs (latent hazard — the shipped
    corpus has none)."""
    import datetime
    import os

    import duckdb

    from mongo_hadoop_spark.operators.mongoagg import (
        PIPELINE_EXP_MOVING_AVG_SQL, pipeline_exp_moving_avg,
    )
    from mongo_hadoop_spark.oracle import compare

    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)
    schema = StructType([
        StructField("event_id", LongType()), StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()), StructField("props", StringType())])
    t0 = datetime.datetime(2024, 1, 1)
    rows = [(i, t0 + datetime.timedelta(minutes=i), i % 3, "e",
             None if i % 4 == 0 else float(i), "{}") for i in range(40)]
    sf = str(tmp_path)
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(sf, "events.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf, 'events.parquet', '*.parquet')}')")
    res = compare("ema_nulls", pipeline_exp_moving_avg(spark, sf),
                  con.execute(PIPELINE_EXP_MOVING_AVG_SQL).fetchdf())
    assert res.ok, str(res)


def test_near_operators_point_to_geo_near(spark):
    pts = spark.createDataFrame([(1, [0.0, 0.0])], "id long, loc array<double>")
    with pytest.raises(ValueError, match=r"\$geoNear"):
        aggregate(pts, [{"$match": {"loc": {"$nearSphere": [0.0, 0.0]}}}])
    with pytest.raises(ValueError, match=r"\$geoNear"):
        aggregate(pts, [{"$match": {"loc": {"$near": [0.0, 0.0]}}}])


# --- $text compatibility bridge (r8) ---------------------------------------

@pytest.fixture()
def textdocs(spark):
    return spark.createDataFrame([
        (1, "spark is fast and spark is scalable"),
        (2, "hadoop is slow"),
        (3, "spark streaming hello world"),
        (4, "the quick brown fox"),
        (5, "fast spark fast"),
        (6, "Spark CASE matters"),
    ], ["doc_id", "text"])


def test_text_terms_or_and_score(textdocs):
    out = aggregate(textdocs, [
        {"$match": {"$text": {"$search": "spark fox", "path": "text"}}},
        {"$project": {"doc_id": 1, "score": {"$meta": "textScore"}}},
        {"$sort": {"score": {"$meta": "textScore"}, "doc_id": 1}},
    ]).collect()
    got = {r.doc_id: r.score for r in out}
    # doc1: spark tf=2/7 -> .5*2/7+.5; doc3: 1/4; doc4: fox 1/4; doc5: 1/3
    assert set(got) == {1, 3, 4, 5, 6}
    assert got[1] == 0.5 * (2 / 7) + 0.5
    assert got[5] == 0.5 * (1 / 3) + 0.5
    # meta sort is DESCENDING (best first); doc_id breaks the 5/6 tie
    # (both 1/3) and the 3/4 tie (both 1/4)
    assert [r.doc_id for r in out] == [5, 6, 1, 3, 4]


def test_text_phrase_negation_case(textdocs):
    # required phrase + negated term; phrase words join the OR/score set
    rows = aggregate(textdocs, [
        {"$match": {"$text": {"$search": '"spark is" -scalable',
                              "path": "text"}}},
        {"$project": {"doc_id": 1}},
    ]).collect()
    assert {r.doc_id for r in rows} == set()  # doc1 has 'scalable'
    rows = aggregate(textdocs, [
        {"$match": {"$text": {"$search": '"spark is"', "path": "text"}}},
        {"$project": {"doc_id": 1}},
    ]).collect()
    assert {r.doc_id for r in rows} == {1}
    # negated phrase
    rows = aggregate(textdocs, [
        {"$match": {"$text": {"$search": 'spark -"spark is"',
                              "path": "text"}}},
        {"$project": {"doc_id": 1}},
    ]).collect()
    assert {r.doc_id for r in rows} == {3, 5, 6}
    # $caseSensitive: 'Spark' only matches doc6 when sensitive
    rows = aggregate(textdocs, [
        {"$match": {"$text": {"$search": "Spark", "path": "text",
                              "$caseSensitive": True}}},
        {"$project": {"doc_id": 1}},
    ]).collect()
    assert {r.doc_id for r in rows} == {6}


def test_text_only_negations_matches_nothing(textdocs):
    rows = aggregate(textdocs, [
        {"$match": {"$text": {"$search": "-spark", "path": "text"}}},
        {"$project": {"doc_id": 1}},
    ]).collect()
    assert rows == []


def test_text_residual_conjuncts_same_stage(textdocs):
    rows = aggregate(textdocs, [
        {"$match": {"$text": {"$search": "spark", "path": "text"},
                    "doc_id": {"$gte": 3}}},
        {"$project": {"doc_id": 1}},
    ]).collect()
    assert {r.doc_id for r in rows} == {3, 5, 6}


def test_text_stage_rules_raise(textdocs):
    # non-first stage (server rule)
    with pytest.raises(ValueError, match=r"FIRST \$match"):
        aggregate(textdocs, [
            {"$limit": 10},
            {"$match": {"$text": {"$search": "spark", "path": "text"}}},
        ])
    # nested under $or
    with pytest.raises(ValueError, match=r"\$text"):
        aggregate(textdocs, [
            {"$match": {"$or": [
                {"$text": {"$search": "spark", "path": "text"}},
                {"doc_id": 1}]}},
        ])
    # field-level $text
    with pytest.raises(ValueError, match=r"whole document"):
        aggregate(textdocs, [
            {"$match": {"text": {"$text": {"$search": "spark"}}}},
        ])
    # missing path extension
    with pytest.raises(ValueError, match="path"):
        aggregate(textdocs, [
            {"$match": {"$text": {"$search": "spark"}}}])
    # unknown option still refuses
    with pytest.raises(ValueError, match="unsupported"):
        aggregate(textdocs, [
            {"$match": {"$text": {"$search": "spark", "path": "text",
                                  "$nosuch": True}}}])


def test_text_diacritic_folding(spark):
    """$text folds diacritics by default like the server (both the
    query terms and the document tokens, through the SAME table);
    $diacriticSensitive: true matches marks exactly."""
    docs = spark.createDataFrame(
        [(1, "cafe latte"), (2, "café crema"), (3, "strøm über łaska"),
         (4, "plain words")],
        "doc_id long, text string")

    def run(search, **opts):
        spec = {"$search": search, "path": "text", **opts}
        return {r.doc_id for r in aggregate(
            docs, [{"$match": {"$text": spec}},
                   {"$project": {"doc_id": 1}}]).collect()}

    # folded both ways: ASCII query hits the accented doc and vice versa
    assert run("cafe") == {1, 2}
    assert run("café") == {1, 2}
    # non-decomposable Latin pairs fold too (ø→o, ü→u, ł→l)
    assert run("strom uber laska") == {3}
    # sensitive mode: marks must match exactly
    assert run("café", **{"$diacriticSensitive": True}) == {2}
    assert run("cafe", **{"$diacriticSensitive": True}) == {1}
    # phrases fold as well
    assert run('"café crema"') == {2}
    assert run('"cafe crema"') == {2}
    # case folding composes with diacritic folding (É → é → e)
    assert run("CAFÉ") == {1, 2}


def test_diacritic_fold_map_shared_shape():
    """The fold pair must stay 1:1 (translate semantics) and ASCII on
    the target side — the invariant that lets the same literals drive
    Spark translate(), str.translate and DuckDB translate()."""
    from mongo_hadoop_spark.plans.aggpipe import _diacritic_fold_map

    src, dst = _diacritic_fold_map()
    assert len(src) == len(dst) and len(src) > 100
    assert all(not c.isascii() for c in src)
    assert all(c.isascii() and c.isalpha() for c in dst)


# --- $sort+$limit pushdown below cardinality-preserving stages (r8) --------

def test_push_sort_limit_rewrite_shapes():
    from mongo_hadoop_spark.plans.aggpipe import _push_sort_limit

    lk = {"$lookup": {"from": "t", "localField": "a", "foreignField": "b",
                      "as": "xs"}}
    srt, lim = {"$sort": {"k": 1}}, {"$limit": 5}
    # moves below $lookup + pass-through $project, re-sort appended
    out = _push_sort_limit([{"$match": {"k": 1}}, lk,
                            {"$project": {"k": 1, "n": {"$size": "$xs"}}},
                            srt, lim])
    assert [list(s)[0] for s in out] == [
        "$match", "$sort", "$limit", "$lookup", "$project", "$sort"]
    # $match blocks (it reduces rows — sort+limit above it is wrong)
    out = _push_sort_limit([lk, {"$match": {"k": 1}}, srt, lim])
    assert [list(s)[0] for s in out] == ["$lookup", "$match", "$sort",
                                         "$limit"]
    # $project that COMPUTES the sort key blocks
    out = _push_sort_limit([lk, {"$project": {"k": {"$size": "$xs"}}},
                            srt, lim])
    assert [list(s)[0] for s in out] == ["$lookup", "$project", "$sort",
                                         "$limit"]
    # $lookup whose as-field IS the sort key blocks
    out = _push_sort_limit([
        {"$lookup": {"from": "t", "localField": "a", "foreignField": "b",
                     "as": "k"}}, srt, lim])
    assert [list(s)[0] for s in out] == ["$lookup", "$sort", "$limit"]
    # $meta / dotted-key sorts never move
    out = _push_sort_limit([lk, {"$sort": {"s": {"$meta": "textScore"}}},
                            lim])
    assert [list(s)[0] for s in out] == ["$lookup", "$sort", "$limit"]
    out = _push_sort_limit([lk, {"$sort": {"a.b": 1}}, lim])
    assert [list(s)[0] for s in out] == ["$lookup", "$sort", "$limit"]
    # $sort without a following $limit never moves (no benefit)
    out = _push_sort_limit([lk, srt])
    assert [list(s)[0] for s in out] == ["$lookup", "$sort"]


def test_push_sort_limit_results_and_prefilter(spark):
    import pyspark.sql.functions as F
    orders = spark.createDataFrame(
        [(i, float(100 - i), "F" if i % 2 == 0 else "O") for i in range(40)],
        "okey long, cap double, status string")
    items = spark.createDataFrame(
        [(i % 40, j, float(j * 3)) for i in range(40) for j in range(4)],
        "ikey long, ln long, price double")
    pipe = [
        {"$match": {"status": "F"}},
        {"$lookup": {
            "from": "items",
            "let": {"k": "$okey", "cap": "$cap"},
            "pipeline": [
                {"$match": {"$expr": {"$and": [
                    {"$eq": ["$ikey", "$$k"]},
                    {"$lte": ["$price", "$$cap"]}]}}},
                {"$sort": {"price": -1}},
                {"$limit": 2},
            ],
            "as": "top"}},
        {"$project": {"okey": 1, "n": {"$size": "$top"},
                      "best": {"$arrayElemAt": ["$top.price", 0]}}},
        {"$sort": {"okey": 1}},
        {"$limit": 7},
    ]
    rows = aggregate(orders, pipe, tables={"items": items}).collect()
    # even okeys 0..12, each with 2 items (prices 9,6 ≤ cap except none cut)
    assert [r.okey for r in rows] == [0, 2, 4, 6, 8, 10, 12]
    assert all(r.n == 2 for r in rows)
    assert [r.best for r in rows] == [9.0] * 7
    # the plan carries the broadcast semi-join prefilter of the foreign
    # side (parent bound 7 ≤ threshold) and a local TakeOrdered
    df = aggregate(orders, pipe, tables={"items": items})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_lookup_unbounded_parent_has_no_prefilter(spark):
    orders = spark.createDataFrame([(1, "a")], "okey long, s string")
    items = spark.createDataFrame([(1, 2.0)], "ikey long, price double")
    df = aggregate(orders, [
        {"$lookup": {"from": "items", "localField": "okey",
                     "foreignField": "ikey", "as": "xs"}},
    ], tables={"items": items})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan


# --- array-form accumulator expressions (r8) --------------------------------

def test_array_accumulator_expressions(spark):
    df = spark.createDataFrame(
        [(1, [3, 1, 2, None]), (2, []), (3, None), (4, [5])],
        "id long, xs array<int>")
    out = aggregate(df, [
        {"$project": {
            "id": 1,
            "s": {"$sum": "$xs"}, "a": {"$avg": "$xs"},
            "lo": {"$min": "$xs"}, "hi": {"$max": "$xs"},
            "med": {"$median": {"input": "$xs", "method": "approximate"}},
            "top2": {"$maxN": {"n": 2, "input": "$xs"}},
            "f": {"$first": "$xs"}, "l": {"$last": "$xs"},
            "sd": {"$stdDevPop": "$xs"},
        }},
        {"$sort": {"id": 1}},
    ]).collect()
    r1, r2, r3, r4 = out
    assert (r1.s, r1.a, r1.lo, r1.hi) == (6.0, 2.0, 1, 3)
    assert r1.med == 2 and r1.top2 == [3, 2]
    assert (r1.f, r1.l) == (3, None)   # $last sees the trailing null
    assert abs(r1.sd - (2 / 3) ** 0.5) < 1e-12
    # empty array: $sum -> 0, $avg/$median -> null, $maxN -> []
    assert (r2.s, r2.a, r2.med, r2.top2) == (0.0, None, None, [])
    # null array: $sum -> 0 (server ignores non-numeric operands and
    # "returns 0 if all operands are non-numeric" — r10 review fix);
    # $avg/$median stay null
    assert (r3.s, r3.a, r3.med) == (0.0, None, None)
    assert (r4.s, r4.med, r4.f, r4.l) == (5.0, 5, 5, 5)
    # list-form $max/$min (the pre-existing surface) still compiles
    rows = aggregate(df, [
        {"$project": {"id": 1, "m": {"$max": [{"$literal": 1},
                                              {"$literal": 7}]}}},
        {"$sort": {"id": 1}}, {"$limit": 1},
    ]).collect()
    assert rows[0].m == 7


def test_percentile_expression_and_group_nacc(spark):
    df = spark.createDataFrame(
        [(1, "a", [10, 20, 30, 40]), (2, "a", [7]), (3, "b", [])],
        "id long, g string, xs array<int>")
    rows = aggregate(df, [
        {"$project": {"id": 1, "pct": {"$percentile": {
            "input": "$xs", "p": [0.25, 0.5, 1.0],
            "method": "approximate"}}}},
        {"$sort": {"id": 1}},
    ]).collect()
    assert rows[0].pct == [10, 20, 40]
    assert rows[1].pct == [7, 7, 7]
    assert rows[2].pct is None
    # group-form $minN/$maxN
    rows = aggregate(df, [
        {"$group": {"_id": "$g",
                    "lo2": {"$minN": {"n": 2, "input": "$id"}},
                    "hi2": {"$maxN": {"n": 2, "input": "$id"}}}},
        {"$sort": {"_id": 1}},
    ]).collect()
    assert rows[0]._id == "a" and rows[0].lo2 == [1, 2] \
        and rows[0].hi2 == [2, 1]
    assert rows[1].lo2 == [3]
    # group-form $firstN after an explicit sort (deterministic order)
    rows = aggregate(df, [
        {"$sort": {"id": -1}},
        {"$group": {"_id": None,
                    "f2": {"$firstN": {"n": 2, "input": "$id"}}}},
    ]).collect()
    assert sorted(rows[0].f2, reverse=True) == rows[0].f2 \
        and len(rows[0].f2) == 2


def test_push_sort_limit_randomized_equivalence(spark):
    """Optimizer-rewrite safety net: over randomized pipelines drawn
    from the movable-stage pool, the rewritten plan (aggregate, which
    applies _push_sort_limit + the $lookup prefilter) returns exactly
    the rows of the unrewritten compile (_aggregate_impl on the raw
    stage list), compared as sorted tuples — ties in the $limit cut are
    made impossible by sorting on the unique id."""
    import itertools
    import random

    from mongo_hadoop_spark.plans.aggpipe import _aggregate_impl

    rng = random.Random(8)
    parent = spark.createDataFrame(
        [(i, i % 5, float(i * 7 % 23)) for i in range(60)],
        "pid long, grp long, score double")
    child = spark.createDataFrame(
        [(i % 30, j, float((i * j) % 11)) for i in range(30)
         for j in range(3)],
        "cid long, j long, w double")
    lookup = {"$lookup": {"from": "child", "localField": "pid",
                          "foreignField": "cid", "as": "kids"}}
    movable_pool = [
        lookup,
        {"$addFields": {"extra": {"$add": ["$grp", 1]}}},
        {"$project": {"pid": 1, "grp": 1, "score": 1,
                      "nk": {"$size": {"$ifNull": ["$kids", []]}}}},
        {"$unset": "grp"},
    ]
    for trial in range(12):
        stages = [{"$match": {"pid": {"$gte": rng.randrange(0, 20)}}}]
        # a random movable run; $project/$unset only once and in order
        run = rng.sample(range(len(movable_pool)),
                         k=rng.randrange(1, len(movable_pool) + 1))
        picked = [movable_pool[i] for i in sorted(run)]
        if not any("$lookup" in s for s in picked):
            picked.insert(0, lookup)  # $project's nk needs kids
        stages += picked
        stages.append({"$sort": {"pid": 1}})
        stages.append({"$limit": rng.randrange(1, 15)})
        tables = {"child": child}
        got = aggregate(parent, list(stages), tables=tables).collect()
        want = _aggregate_impl(parent, list(stages), tables=tables).collect()
        key = lambda r: tuple(str(x) for x in r)  # noqa: E731
        assert sorted(map(key, got)) == sorted(map(key, want)), \
            f"trial {trial}: {stages}"


def test_zip_longest_indexofcp_range_date_units(spark):
    import datetime as dt
    df = spark.createDataFrame(
        [(1, [1, 2, 3], [10], "abcabc",
          dt.datetime(2024, 1, 31, 10, 59, 0),
          dt.datetime(2025, 3, 1, 11, 1, 0))],
        "id long, xs array<int>, ys array<int>, s string, a timestamp,"
        " b timestamp")
    r = aggregate(df, [{"$project": {
        "z": {"$zip": {"inputs": ["$xs", "$ys"],
                       "useLongestLength": True}},
        "zd": {"$zip": {"inputs": ["$xs", "$ys"],
                        "useLongestLength": True,
                        "defaults": [{"$literal": -1}, {"$literal": -2}]}},
        "i1": {"$indexOfCP": ["$s", "b", 2]},
        "i2": {"$indexOfCP": ["$s", "b", 2, 4]},
        "i3": {"$indexOfCP": ["$s", "zz", 0]},
        "i4": {"$indexOfCP": ["$s", "b", 99]},
        "dy": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                             "unit": "year"}},
        "dm": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                             "unit": "month"}},
        "dq": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                             "unit": "quarter"}},
        "dh": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                             "unit": "hour"}},
        "am": {"$dateAdd": {"startDate": "$a", "unit": "month",
                            "amount": 1}},
        "sw": {"$dateSubtract": {"startDate": "$b", "unit": "week",
                                 "amount": 2}},
    }}]).collect()[0]
    assert r.z == [[1, 10], [2, None], [3, None]]
    assert r.zd == [[1, 10], [2, -2], [3, -2]]
    assert r.i1 == 4 and r.i2 == -1 and r.i3 == -1 and r.i4 == -1
    # boundary crossings: 2024-01-31 -> 2025-03-01
    assert (r.dy, r.dm, r.dq) == (1, 14, 4)
    # 10:59 -> 11:01 next year: hour boundaries crossed
    assert r.dh == 9481  # 366d*24 + 29d*24 + 1h boundary crossings
    import datetime as dt2
    assert r.am == dt2.datetime(2024, 2, 29, 10, 59)  # clamped
    assert r.sw == dt2.datetime(2025, 2, 15, 11, 1)


def test_bucket_auto_granularity(spark):
    df = spark.createDataFrame(
        [(float(v),) for v in [3, 7, 12, 18, 25, 33, 47, 60, 85, 120,
                               200, 340, 560, 900, 1500]], "v double")
    rows = aggregate(df, [
        {"$bucketAuto": {"groupBy": "$v", "buckets": 3,
                         "granularity": "R5",
                         "output": {"n": {"$sum": 1}}}},
        {"$sort": {"_id_min": 1}},
    ]).collect()
    assert [(r._id_min, r._id_max, r.n) for r in rows] == [
        (2.5, 25.0, 4), (25.0, 160.0, 6), (160.0, 1600.0, 5)]
    # series membership: min rounded DOWN (3 -> 2.5), max strictly
    # above (1500 -> 1600); buckets are [lo, hi)
    rows = aggregate(df, [
        {"$bucketAuto": {"groupBy": "$v", "buckets": 4,
                         "granularity": "POWERSOF2",
                         "output": {"n": {"$sum": 1}}}},
        {"$sort": {"_id_min": 1}},
    ]).collect()
    assert rows[0]._id_min == 2.0 and rows[-1]._id_max == 2048.0
    assert sum(r.n for r in rows) == 15
    with pytest.raises(ValueError, match="granularity"):
        aggregate(df, [{"$bucketAuto": {
            "groupBy": "$v", "buckets": 3, "granularity": "R7"}}])
    # out-of-range (non-positive) values raise loudly at execution
    neg = spark.createDataFrame([(-1.0,), (2.0,)], "v double")
    bad = aggregate(neg, [{"$bucketAuto": {
        "groupBy": "$v", "buckets": 2, "granularity": "R5"}}])
    with pytest.raises(Exception, match="magnitude range"):
        bad.collect()


def test_bucket_auto_granularity_empty_input(spark):
    """Empty input yields no buckets (it used to raise the magnitude-range
    error: with no values there is no boundary to snap)."""
    empty = spark.createDataFrame([], "v double")
    for pctl in (None, 1000):
        got = aggregate(empty, [{"$bucketAuto": {
            "groupBy": "$v", "buckets": 3, "granularity": "R5",
            "output": {"n": {"$sum": 1}}}}], percentile_accuracy=pctl)
        assert got.collect() == []
    bad = aggregate(spark.createDataFrame([(0.0,)], "v double"), [
        {"$bucketAuto": {"groupBy": "$v", "buckets": 2,
                         "granularity": "R5"}}])
    with pytest.raises(Exception, match="magnitude range"):
        bad.collect()


def test_unwind_nested_path(spark):
    df = spark.createDataFrame(
        [(1, {"name": "x", "inner": {"vals": [10, 20]}}),
         (2, {"name": "y", "inner": {"vals": []}})],
        "id long, a struct<name:string, inner:struct<vals:array<int>>>")
    rows = aggregate(df, [
        {"$unwind": "$a.inner.vals"},
        {"$project": {"id": 1, "v": "$a.inner.vals", "nm": "$a.name"}},
        {"$sort": {"id": 1, "v": 1}},
    ]).collect()
    assert [(r.id, r.v, r.nm) for r in rows] == [(1, 10, "x"), (1, 20, "x")]
    # preserve + includeArrayIndex at the top level
    rows = aggregate(df, [
        {"$unwind": {"path": "$a.inner.vals",
                     "preserveNullAndEmptyArrays": True,
                     "includeArrayIndex": "i"}},
        {"$project": {"id": 1, "i": 1, "v": "$a.inner.vals"}},
        {"$sort": {"id": 1, "i": 1}},
    ]).collect()
    assert [(r.id, r.i, r.v) for r in rows] == [
        (1, 0, 10), (1, 1, 20), (2, None, None)]


def test_sample_rate_deterministic(spark):
    df = spark.createDataFrame([(i, f"t{i}") for i in range(200)],
                               "id long, s string")
    a = aggregate(df, [{"$match": {"$sampleRate": 0.5}}]).collect()
    b = aggregate(df, [{"$match": {"$sampleRate": 0.5}}]).collect()
    assert sorted(r.id for r in a) == sorted(r.id for r in b)  # stable
    assert 60 <= len(a) <= 140  # ~rate fraction
    assert aggregate(df, [{"$match": {"$sampleRate": 0.0}}]).count() == 0
    assert aggregate(df, [{"$match": {"$sampleRate": 1.0}}]).count() == 200
    # composes with other conjuncts in the same $match
    c = aggregate(df, [{"$match": {"$sampleRate": 0.5,
                                   "id": {"$lt": 100}}}]).collect()
    assert all(r.id < 100 for r in c)
    assert {r.id for r in c} == {r.id for r in a if r.id < 100}
    with pytest.raises(ValueError, match="sampleRate"):
        aggregate(df, [{"$match": {"$sampleRate": 1.5}}])


# ---------------------------------------------------------------------------
# Production percentile mode (approx_percentile; r9 — the r8 verdict's one
# confirmed scale-killer closed: $bucketAuto/$median/$percentile no longer
# require an O(N) single-reducer buffer when percentile_accuracy is set)
# ---------------------------------------------------------------------------


def test_approx_mode_matches_exact_convention_small(spark):
    """At accuracy ≥ 2·N the GK sketch is rank-exact, so the approx mode
    must return EXACTLY the discrete convention's values — odd and even
    group sizes, ties included (the same pin the *_approx driver gates
    rely on when they share the exact DuckDB oracles)."""
    pipeline = [
        {"$group": {"_id": "$grp",
                    "med": {"$median": {"input": "$score",
                                        "method": "approximate"}},
                    "pq": {"$percentile": {"input": "$score",
                                           "p": [0.25, 0.5, 1.0],
                                           "method": "approximate"}}}},
        {"$sort": {"_id": 1}},
    ]
    exact = rows(aggregate(_scores_df(spark), pipeline))
    approx = rows(aggregate(_scores_df(spark), pipeline,
                            percentile_accuracy=1_000_000))
    assert approx == exact


def test_approx_mode_bucket_auto_matches_exact_small(spark):
    pipeline = [
        {"$bucketAuto": {"groupBy": "$x", "buckets": 4}},
        {"$sort": {"_id_min": 1}},
    ]
    df = spark.createDataFrame([(float(i),) for i in range(1, 42)],
                               "x double")
    exact = rows(aggregate(df, pipeline))
    approx = rows(aggregate(df, pipeline, percentile_accuracy=1_000_000))
    assert approx == exact
    # granularity form too (snap happens downstream of the quantiles)
    gp = [{"$bucketAuto": {"groupBy": "$x", "buckets": 3,
                           "granularity": "1-2-5"}},
          {"$sort": {"_id_min": 1}}]
    assert (rows(aggregate(df, gp, percentile_accuracy=1_000_000))
            == rows(aggregate(df, gp)))


def test_approx_mode_plan_has_no_exact_percentile(spark):
    """The production plan must carry the mergeable sketch aggregate —
    approx_percentile — and none of the O(N)-state exact forms
    (percentile_disc / the collect_list+array_sort accumulator)."""
    df = spark.createDataFrame([(float(i),) for i in range(50)], "x double")
    pipeline = [{"$bucketAuto": {"groupBy": "$x", "buckets": 4}}]
    approx_plan = (aggregate(df, pipeline, percentile_accuracy=10_000)
                   ._jdf.queryExecution().optimizedPlan().toString())
    assert "approx_percentile" in approx_plan
    assert "percentile_disc" not in approx_plan
    exact_plan = (aggregate(df, pipeline)
                  ._jdf.queryExecution().optimizedPlan().toString())
    assert "percentile_disc" in exact_plan
    assert "approx_percentile" not in exact_plan
    # group accumulators: approx mode must not collect the group
    gpipe = [{"$group": {"_id": None,
                         "m": {"$median": {"input": "$x",
                                           "method": "approximate"}}}}]
    gplan = (aggregate(df, gpipe, percentile_accuracy=10_000)
             ._jdf.queryExecution().optimizedPlan().toString())
    # the Column API renders as percentile_approx (same expression class)
    assert ("approx_percentile" in gplan or "percentile_approx" in gplan)
    assert "collect_list" not in gplan


def test_approx_mode_conf_driven(spark):
    """Session-wide opt-in via spark.mongo_hadoop_spark.percentileAccuracy
    — the flip a 100 TB run makes without touching query code."""
    from mongo_hadoop_spark.plans.aggpipe import PERCENTILE_ACCURACY_CONF

    df = spark.createDataFrame([(float(i),) for i in range(9)], "x double")
    pipeline = [{"$group": {"_id": None,
                            "m": {"$median": {"input": "$x",
                                              "method": "approximate"}}}}]
    spark.conf.set(PERCENTILE_ACCURACY_CONF, "100000")
    try:
        plan = (aggregate(df, pipeline)
                ._jdf.queryExecution().optimizedPlan().toString())
        assert "percentile_approx" in plan
        # explicit per-call argument still wins over the conf
        got = aggregate(df, pipeline, percentile_accuracy=1_000_000)
        assert got.collect()[0].m == 4.0  # ceil(0.5*9) = 5th of 0..8
        # "exact" restores the discrete path
        spark.conf.set(PERCENTILE_ACCURACY_CONF, "exact")
        plan = (aggregate(df, pipeline)
                ._jdf.queryExecution().optimizedPlan().toString())
        assert "percentile_approx" not in plan
    finally:
        spark.conf.unset(PERCENTILE_ACCURACY_CONF)


def test_approx_mode_rejects_bad_accuracy(spark):
    df = spark.createDataFrame([(1.0,)], "x double")
    pipeline = [{"$group": {"_id": None,
                            "m": {"$median": {"input": "$x",
                                              "method": "approximate"}}}}]
    with pytest.raises(ValueError, match="positive"):
        aggregate(df, pipeline, percentile_accuracy=0)
    with pytest.raises(ValueError, match="positive"):
        aggregate(df, pipeline, percentile_accuracy=-5)


def test_approx_mode_rank_error_within_gk_bound(spark):
    """Tolerance pin for the genuinely-approximate regime: at the
    production default accuracy (10^4) over N = 60k values (ε·N = 6, so
    compression really happens and exactness is NOT expected), every
    returned quantile must be an input value whose rank is within the
    published GK bound of the target rank.  A generous 4× merge factor
    absorbs partial-aggregate merge slack; exactness would be luck, a
    blown bound is a real regression."""
    import math

    n, acc = 60_000, 10_000
    df = spark.range(n).selectExpr(
        "CAST(pmod(hash(id), 1000000) AS DOUBLE) AS x")
    ps = [0.1, 0.5, 0.9]
    got = aggregate(df, [
        {"$group": {"_id": None,
                    "q": {"$percentile": {"input": "$x", "p": ps,
                                          "method": "approximate"}}}},
    ], percentile_accuracy=acc).collect()[0].q
    vals = sorted(r.x for r in df.collect())
    for p, v in zip(ps, got):
        assert v in vals  # GK returns actual samples, never interpolates
        lo = vals.index(v) + 1                  # smallest rank of v
        hi = len(vals) - vals[::-1].index(v)    # largest rank of v
        target = math.ceil(p * n)
        slack = 4.0 * n / acc
        assert lo - slack <= target <= hi + slack, (p, v, lo, hi, target)


# ---------------------------------------------------------------------------
# r9 ADVICE closures: $dateDiff week boundaries, $zip null inputs,
# $sum/$avg scalar operands, $indexOfCP negative range
# ---------------------------------------------------------------------------


def test_datediff_week_boundary_crossings(spark):
    """Week = startOfWeek boundary CROSSINGS (server semantics), not
    elapsed 7-day blocks: Saturday→Sunday is 1 under the default
    (Sunday) start, 0 under startOfWeek=monday."""
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2026, 8, 15), dt.datetime(2026, 8, 16))],  # Sat→Sun
        "a timestamp, b timestamp")

    def dd(**kw):
        spec = {"startDate": "$a", "endDate": "$b", "unit": "week", **kw}
        return aggregate(df, [{"$project": {"w": {"$dateDiff": spec}}}]
                         ).collect()[0].w

    assert dd() == 1                            # crosses the Sunday start
    assert dd(startOfWeek="monday") == 0        # same Mon-anchored week
    # symmetric negative direction
    back = spark.createDataFrame(
        [(dt.datetime(2026, 8, 16), dt.datetime(2026, 8, 15))],
        "a timestamp, b timestamp")
    got = aggregate(back, [{"$project": {"w": {"$dateDiff": {
        "startDate": "$a", "endDate": "$b", "unit": "week"}}}}]
    ).collect()[0].w
    assert got == -1
    # a full elapsed week that crosses exactly one boundary
    wk = spark.createDataFrame(
        [(dt.datetime(2026, 8, 12), dt.datetime(2026, 8, 19))],  # Wed→Wed
        "a timestamp, b timestamp")
    got = aggregate(wk, [{"$project": {"w": {"$dateDiff": {
        "startDate": "$a", "endDate": "$b", "unit": "week"}}}}]
    ).collect()[0].w
    assert got == 1
    with pytest.raises(ValueError, match="startOfWeek"):
        dd(startOfWeek="noday")


def test_zip_null_input_yields_null(spark):
    """Server rule: any null/missing input nullifies the whole $zip —
    both the shortest form and useLongestLength (which previously padded
    as if the null were empty)."""
    df = spark.createDataFrame(
        [([1.0], None), (None, [2.0]), ([1.0], [2.0])],
        "a array<double>, b array<double>")
    got = aggregate(df, [{"$project": {
        "s": {"$zip": {"inputs": ["$a", "$b"]}},
        "l": {"$zip": {"inputs": ["$a", "$b"], "useLongestLength": True}},
    }}]).collect()
    assert [r.s for r in got] == [None, None, [[1.0, 2.0]]]
    assert [r.l for r in got] == [None, None, [[1.0, 2.0]]]


def test_sum_avg_scalar_operands(spark):
    """Server passes numeric scalar operands through ({$sum: 1} → 1 per
    row); non-numeric scalars are 0 for $sum, null for $avg."""
    df = spark.createDataFrame([(5.0, [1.0, 2.0])],
                               "x double, arr array<double>")
    r = aggregate(df, [{"$project": {
        "one": {"$sum": 1},
        "half": {"$avg": 2.5},
        "s_str": {"$sum": "not-a-path"},
        "a_str": {"$avg": "not-a-path"},
        "s_bool": {"$sum": True},
        "arr_sum": {"$sum": "$arr"},
    }}]).collect()[0]
    assert r.one == 1 and r.half == 2.5
    assert r.s_str == 0 and r.a_str is None and r.s_bool == 0
    assert r.arr_sum == 3.0


def test_indexofcp_negative_range_raises(spark):
    df = spark.createDataFrame([("abc",)], "s string")
    with pytest.raises(ValueError, match="40097"):
        aggregate(df, [{"$project": {
            "i": {"$indexOfCP": ["$s", "b", -1]}}}])
    with pytest.raises(ValueError, match="40097"):
        aggregate(df, [{"$project": {
            "i": {"$indexOfCP": ["$s", "b", 0, -2]}}}])


def test_datetrunc_week_start_of_week(spark):
    """$dateTrunc week anchors on startOfWeek (server default Sunday) —
    Spark's own date_trunc('week') is Monday-anchored and must not leak
    through."""
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2026, 8, 12, 15, 30),)], "a timestamp")  # Wednesday

    def trunc(**kw):
        spec = {"date": "$a", "unit": "week", **kw}
        return aggregate(df, [{"$project": {"w": {"$dateTrunc": spec}}}]
                         ).collect()[0].w

    assert trunc() == dt.datetime(2026, 8, 9)                  # Sunday
    assert trunc(startOfWeek="monday") == dt.datetime(2026, 8, 10)
    # a date ON the week start truncates to itself (midnight)
    on_start = spark.createDataFrame(
        [(dt.datetime(2026, 8, 9, 5, 0),)], "a timestamp")     # Sunday
    got = aggregate(on_start, [{"$project": {"w": {"$dateTrunc": {
        "date": "$a", "unit": "week"}}}}]).collect()[0].w
    assert got == dt.datetime(2026, 8, 9)
    with pytest.raises(ValueError, match="startOfWeek"):
        trunc(startOfWeek="nope")


def test_window_median_percentile(spark):
    """$median/$percentile as window operators (Mongo 7.0): running
    frame picks under the discrete convention; approx mode rides the
    same percentile_accuracy switch."""
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 7.0)],
        "g string, i int, v double")
    pipe = [{"$setWindowFields": {
        "partitionBy": "$g",
        "sortBy": {"i": 1},
        "output": {
            "med": {"$median": {"input": "$v", "method": "approximate"},
                    "window": {"documents": ["unbounded", "current"]}},
            "q": {"$percentile": {"input": "$v", "p": [0.5, 1.0],
                                  "method": "approximate"},
                  "window": {"documents": ["unbounded", "current"]}},
        }}}]
    rows_ = {r.i: r for r in aggregate(df, pipe).collect()}
    # frames: [10] -> 10; [10,30] -> ceil(.5*2)=1st=10; [10,30,20] -> 20
    assert [rows_[i].med for i in (1, 2, 3, 4)] == [10.0, 10.0, 20.0, 7.0]
    assert rows_[2].q == [10.0, 30.0]
    assert rows_[3].q == [20.0, 30.0]
    approx = {r.i: r for r in aggregate(
        df, pipe, percentile_accuracy=1_000_000).collect()}
    assert all(approx[i].med == rows_[i].med and approx[i].q == rows_[i].q
               for i in (1, 2, 3, 4))
    with pytest.raises(ValueError, match="non-empty"):
        aggregate(df, [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"i": 1},
            "output": {"q": {"$percentile": {"input": "$v", "p": []}}}}}])


def test_rand_deterministic_md5_gate(spark):
    """$rand is the $sampleRate-style determinism deviation (r9): a
    uniform md5-of-row fraction in [0, 1) — stable across runs and
    identical to the $sampleRate gate's fraction, so the $expr form
    {$lt: [{$rand: {}}, r]} keeps exactly $sampleRate: r's rows."""
    df = spark.createDataFrame([(i, f"t{i}") for i in range(300)],
                               "id long, s string")
    a = aggregate(df, [{"$project": {"id": 1, "r": {"$rand": {}}}}]).collect()
    b = aggregate(df, [{"$project": {"id": 1, "r": {"$rand": {}}}}]).collect()
    assert sorted((x.id, x.r) for x in a) == sorted((x.id, x.r) for x in b)
    assert all(0.0 <= x.r < 1.0 for x in a)
    assert 0.2 < sum(x.r for x in a) / len(a) < 0.8  # roughly uniform
    via_rand = aggregate(df, [
        {"$match": {"$expr": {"$lt": [{"$rand": {}}, 0.4]}}}]).collect()
    via_rate = aggregate(df, [{"$match": {"$sampleRate": 0.4}}]).collect()
    assert {x.id for x in via_rand} == {x.id for x in via_rate}
    with pytest.raises(ValueError, match="rand"):
        aggregate(df, [{"$project": {"r": {"$rand": {"seed": 1}}}}])


def test_datetrunc_binsize(spark):
    """$dateTrunc binSize (Mongo 5.0): bins anchored at the server's
    reference 2000-01-01T00:00 (week: the startOfWeek on or before
    it) — pure epoch/index arithmetic, no session-TZ functions."""
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2026, 8, 16, 13, 47, 31),)], "a timestamp")

    def trunc(**kw):
        spec = {"date": "$a", **kw}
        return aggregate(df, [{"$project": {"t": {"$dateTrunc": spec}}}]
                         ).collect()[0].t

    assert trunc(unit="hour", binSize=6) == dt.datetime(2026, 8, 16, 12)
    assert trunc(unit="minute", binSize=15) == dt.datetime(2026, 8, 16, 13, 45)
    # day bins of 10 anchored at 2000-01-01: day index 9724 → 9720,
    # i.e. 4 days back from Aug 16
    assert trunc(unit="day", binSize=10) == dt.datetime(2026, 8, 12)
    # month bins of 2 from 2000-01: month index 319 → 318 = 2026-07
    assert trunc(unit="month", binSize=2) == dt.datetime(2026, 7, 1)
    assert trunc(unit="quarter", binSize=2) == dt.datetime(2026, 7, 1)
    assert trunc(unit="year", binSize=5) == dt.datetime(2025, 1, 1)
    # week bins of 2 anchored at the Sunday on/before 2000-01-01
    # (1999-12-26): 2026-08-16 is a Sunday, 1390 weeks after → 1390
    # floored to 1390 by binSize 2 → 2026-08-16 itself
    assert trunc(unit="week", binSize=2) == dt.datetime(2026, 8, 16)
    # ...and a Monday start shifts the anchor to 1999-12-27: day gap
    # 9729 → floor(9729/14)*14 = 9716 → 2026-08-03
    assert (trunc(unit="week", binSize=2, startOfWeek="monday")
            == dt.datetime(2026, 8, 3))
    # binSize=1 falls back to the plain truncation path
    assert trunc(unit="hour", binSize=1) == dt.datetime(2026, 8, 16, 13)
    with pytest.raises(ValueError, match="binSize"):
        trunc(unit="hour", binSize=0)
    with pytest.raises(ValueError, match="binSize"):
        trunc(unit="hour", binSize=1.5)


def test_datediff_millisecond(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2026, 8, 16, 0, 0, 0, 250000),
          dt.datetime(2026, 8, 16, 0, 0, 1, 750000))],
        "a timestamp, b timestamp")
    r = aggregate(df, [{"$project": {
        "ms": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                             "unit": "millisecond"}}}}]).collect()[0]
    assert r.ms == 1500


def test_window_range_frames(spark):
    """$setWindowFields range windows (r9): time-bounded rangeBetween
    over the single ascending sortBy key.  Pre-r9 these frames fell
    through SILENTLY to the default documents frame."""
    import datetime as dt

    base = dt.datetime(2026, 8, 16, 12, 0, 0)
    df = spark.createDataFrame(
        [(1, base, 10.0), (2, base + dt.timedelta(minutes=30), 20.0),
         (3, base + dt.timedelta(minutes=61), 30.0),
         (4, base + dt.timedelta(hours=3), 40.0)],
        "id int, ts timestamp, v double")
    got = {r.id: r for r in aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": None,
            "sortBy": {"ts": 1},
            "output": {
                "n_1h": {"$count": {},
                         "window": {"range": [-1, 0], "unit": "hour"}},
                "sum_1h": {"$sum": "$v",
                           "window": {"range": [-1, 0], "unit": "hour"}},
            },
        }},
    ]).collect()}
    # id3 is 61min after id1 (outside) but 31min after id2 (inside)
    assert [got[i].n_1h for i in (1, 2, 3, 4)] == [1, 2, 2, 1]
    assert got[3].sum_1h == 50.0 and got[4].sum_1h == 40.0
    # unit-less numeric range key
    nf = spark.createDataFrame([(1, 10, 1.0), (2, 14, 1.0), (3, 30, 1.0)],
                               "id int, k int, v double")
    got2 = {r.id: r for r in aggregate(nf, [
        {"$setWindowFields": {
            "partitionBy": None, "sortBy": {"k": 1},
            "output": {"n5": {"$count": {},
                              "window": {"range": [-5, 0]}}}}},
    ]).collect()}
    assert [got2[i].n5 for i in (1, 2, 3)] == [1, 2, 1]
    # malformed specs refuse loudly
    with pytest.raises(ValueError, match="ascending"):
        aggregate(nf, [{"$setWindowFields": {
            "partitionBy": None, "sortBy": {"k": -1},
            "output": {"n": {"$count": {}, "window": {"range": [-5, 0]}}}}}])
    with pytest.raises(ValueError, match="exactly one sortBy"):
        aggregate(nf, [{"$setWindowFields": {
            "partitionBy": None, "sortBy": {"k": 1, "id": 1},
            "output": {"n": {"$count": {}, "window": {"range": [-5, 0]}}}}}])
    with pytest.raises(ValueError, match="unsupported"):
        aggregate(nf, [{"$setWindowFields": {
            "partitionBy": None, "sortBy": {"k": 1},
            "output": {"n": {"$count": {},
                             "window": {"range": [-1, 0],
                                        "unit": "month"}}}}}])
    with pytest.raises(ValueError, match="unsupported window frame"):
        aggregate(nf, [{"$setWindowFields": {
            "partitionBy": None, "sortBy": {"k": 1},
            "output": {"n": {"$count": {}, "window": {"rows": [0, 1]}}}}}])


def test_dateadd_subtract_millisecond(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2026, 8, 16, 0, 0, 0, 500000),)], "a timestamp")
    r = aggregate(df, [{"$project": {
        "plus": {"$dateAdd": {"startDate": "$a", "unit": "millisecond",
                              "amount": 750}},
        "minus": {"$dateSubtract": {"startDate": "$a",
                                    "unit": "millisecond",
                                    "amount": 1500}},
    }}]).collect()[0]
    assert r.plus == dt.datetime(2026, 8, 16, 0, 0, 1, 250000)
    assert r.minus == dt.datetime(2026, 8, 15, 23, 59, 59)


def test_rand_distinct_sites_decorrelate(spark):
    """r10 ADVICE: two $rand sites in one pipeline draw DIFFERENT
    deterministic values per row (occurrence-salted md5), while the
    first site stays bit-identical to the $sampleRate gate fraction."""
    df = spark.createDataFrame([(i, f"t{i}") for i in range(300)],
                               "id long, s string")
    got = aggregate(df, [{"$project": {
        "id": 1, "r1": {"$rand": {}}, "r2": {"$rand": {}}}}]).collect()
    # decorrelated: not all equal (pre-r10 every site was the same hash)
    assert any(abs(x.r1 - x.r2) > 1e-12 for x in got)
    assert all(0.0 <= x.r2 < 1.0 for x in got)
    # both deterministic across independent compiles
    again = aggregate(df, [{"$project": {
        "id": 1, "r1": {"$rand": {}}, "r2": {"$rand": {}}}}]).collect()
    assert sorted((x.id, x.r1, x.r2) for x in got) == \
        sorted((x.id, x.r1, x.r2) for x in again)
    # first-occurrence compatibility: {$lt: [{$rand:{}}, r]} ≡ $sampleRate r
    via_rand = aggregate(df, [
        {"$match": {"$expr": {"$lt": [{"$rand": {}}, 0.3]}}}]).collect()
    via_rate = aggregate(df, [{"$match": {"$sampleRate": 0.3}}]).collect()
    assert {x.id for x in via_rand} == {x.id for x in via_rate}


def test_datetrunc_binsize1_utc_epoch_under_nonutc_session(spark):
    """r10 ADVICE: binSize=1 fixed-length units truncate on UTC epoch
    boundaries (server default timezone) regardless of the Spark session
    timezone — previously date_trunc gave session-LOCAL midnights for
    binSize=1 while binSize=2 used UTC, so the modes disagreed."""
    import datetime as dt

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame(
            [(dt.datetime(2024, 3, 7, 22, 45, 11),)], "a timestamp")
        r = aggregate(df, [{"$project": {
            "d1": {"$dateTrunc": {"date": "$a", "unit": "day"}},
            "d2": {"$dateTrunc": {"date": "$a", "unit": "day",
                                  "binSize": 2}},
            "h1": {"$dateTrunc": {"date": "$a", "unit": "hour"}},
        }}]).collect()[0]
        # local wall-clock 22:45 EST == 03:45Z next day; UTC-day
        # truncation keeps both binSizes on the SAME UTC midnight
        assert r.d1 == r.d2
        assert r.h1.minute == 0 and r.h1.second == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_sum_avg_scalar_field_path_passthrough(people):
    """r10 ADVICE: {$sum: "$scalar"} / {$avg: "$scalar"} in expression
    context pass the value through like the server (null → 0 / null;
    non-numeric scalar → 0 / null); array fields still fold."""
    got = aggregate(people, [{"$sort": {"id": 1}}, {"$project": {
        "id": 1,
        "s": {"$sum": "$bal"}, "a": {"$avg": "$bal"},
        "sn": {"$sum": "$name"}, "an": {"$avg": "$name"},
        "nt": {"$sum": {"$map": {"input": "$tags", "as": "t",
                                 "in": 1}}},
    }}]).collect()
    assert [x.s for x in got] == [10.5, 20.0, 0.0, 7.25]   # null → 0
    assert [x.a for x in got] == [10.5, 20.0, None, 7.25]  # null → null
    assert all(x.sn == 0 for x in got)      # non-numeric → 0
    assert all(x.an is None for x in got)   # non-numeric → null
    # array folds; a NULL array sums to 0 like the server (not null)
    assert [x.nt for x in got] == [2.0, 0.0, 0.0, 1.0]


def test_window_reversed_bounds_raise(spark):
    """r10 ADVICE: reversed frame bounds (lo > hi) raise like the
    server instead of silently producing an empty Spark frame."""
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="range bounds reversed"):
        aggregate(df, [{"$setWindowFields": {
            "partitionBy": None, "sortBy": {"k": 1},
            "output": {"s": {"$sum": "$v",
                             "window": {"range": [0, -1]}}}}}])
    with pytest.raises(ValueError, match="documents bounds reversed"):
        aggregate(df, [{"$setWindowFields": {
            "partitionBy": None, "sortBy": {"k": 1},
            "output": {"s": {"$sum": "$v",
                             "window": {"documents": [1, -1]}}}}}])
    # sentinel bounds still resolve (unboundedPreceding < 0 < following)
    ok = aggregate(df, [{"$setWindowFields": {
        "partitionBy": None, "sortBy": {"k": 1},
        "output": {"s": {"$sum": "$v",
                         "window": {"documents": ["unbounded",
                                                  "current"]}}}}}])
    assert sorted((r.k, r.s) for r in ok.collect()) == [(1, 1.0), (2, 3.0)]


def test_datediff_week_startofweek_matrix_vs_duckdb(spark):
    """r10 verdict item 5: $dateDiff week counts startOfWeek-boundary
    CROSSINGS — property matrix across all seven startOfWeek values ×
    a DST-free epoch grid (both directions, same-day, exact-boundary
    pairs) against the DuckDB formula used by the driver oracle."""
    import datetime as dt

    import duckdb

    base = dt.datetime(2024, 1, 1)  # a Monday
    # endpoints straddle week boundaries in both directions
    offsets = [0, 1, 2, 3, 4, 5, 6, 7, 8, 13, 14, 20, -1, -3, -6, -7,
               -8, -13, -15, 27]
    pairs = [(base + dt.timedelta(days=a, hours=ha),
              base + dt.timedelta(days=b, hours=hb))
             for a in offsets[:8] for b in offsets
             for ha, hb in ((0, 0), (23, 1))]
    df = spark.createDataFrame(pairs, "a timestamp, b timestamp")
    days = ["sunday", "monday", "tuesday", "wednesday", "thursday",
            "friday", "saturday"]
    got = aggregate(df, [{"$project": {
        "a": 1, "b": 1,
        **{f"w_{d}": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                    "unit": "week", "startOfWeek": d}}
           for d in days}}}]).collect()

    con = duckdb.connect()
    for r in got:
        for off, d in [(0, "sunday"), (1, "monday"), (2, "tuesday"),
                       (3, "wednesday"), (4, "thursday"), (5, "friday"),
                       (6, "saturday")]:
            want = con.execute(
                f"SELECT (date_diff('day', "
                f"  ?::timestamp::date - ((dayofweek(?::timestamp) + 7 - {off}) % 7)::int, "
                f"  ?::timestamp::date - ((dayofweek(?::timestamp) + 7 - {off}) % 7)::int) // 7)::bigint",
                [r.a, r.a, r.b, r.b]).fetchone()[0]
            assert getattr(r, f"w_{d}") == want, (r.a, r.b, d)
    con.close()


def test_rand_facet_branches_decorrelate(spark):
    """r10 review finding: $facet/$lookup sub-pipelines recurse through
    aggregate(); the $rand occurrence sequence must NOT reset per
    branch, or sibling facets draw identical values per row."""
    df = spark.createDataFrame([(i,) for i in range(200)], "id long")
    out = aggregate(df, [{"$facet": {
        "a": [{"$match": {"$expr": {"$lt": [{"$rand": {}}, 0.5]}}},
              {"$project": {"id": 1}}],
        "b": [{"$match": {"$expr": {"$lt": [{"$rand": {}}, 0.5]}}},
              {"$project": {"id": 1}}],
    }}]).collect()[0]
    keep_a = {r.id for r in out.a}
    keep_b = {r.id for r in out.b}
    # each branch keeps ~half; correlated branches would be identical
    assert keep_a != keep_b
    assert 40 < len(keep_a) < 160 and 40 < len(keep_b) < 160


def test_round_half_to_even(spark):
    """$round rounds half to even like the server (banker's rounding):
    2.5 → 2, 3.5 → 4, -2.5 → -2; places form 1.25 → 1.2."""
    df = spark.createDataFrame(
        [(1, 2.5), (2, 3.5), (3, -2.5), (4, 1.25)], "id long, x double")
    got = aggregate(df, [{"$sort": {"id": 1}}, {"$project": {
        "r": {"$round": "$x"}, "r1": {"$round": ["$x", 1]}}}]).collect()
    assert [g.r for g in got] == [2.0, 4.0, -2.0, 1.0]
    assert got[3].r1 == 1.2


def test_array_to_object_duplicate_keys_last_wins(spark):
    """$arrayToObject with duplicate keys keeps the LAST value (server
    semantics) instead of throwing under Spark's default
    mapKeyDedupPolicy=EXCEPTION."""
    df = spark.createDataFrame([(1,)], "id long")
    got = aggregate(df, [{"$project": {
        "o": {"$arrayToObject": [[
            {"k": "a", "v": 1}, {"k": "b", "v": 2}, {"k": "a", "v": 3},
        ]]},
    }}]).collect()[0]
    assert dict(got.o) == {"a": 3, "b": 2}


def test_substrcp_expression_bounds_and_split_empty_delim(spark):
    """r10: $substrCP accepts EXPRESSION start/length (previously a
    non-literal start silently became 0) and validates literal
    negatives like the server; $split rejects the empty separator."""
    df = spark.createDataFrame([("hello", 1, 3), ("world", 2, 2)],
                               "s string, st int, ln int")
    got = aggregate(df, [{"$project": {
        "sub": {"$substrCP": ["$s", "$st", "$ln"]},
        "lit": {"$substrCP": ["$s", 0, 2]},
    }}]).collect()
    assert [(g.sub, g.lit) for g in got] == [("ell", "he"), ("rl", "wo")]
    with pytest.raises(ValueError, match="nonnegative"):
        aggregate(df, [{"$project": {"x": {"$substrCP": ["$s", -1, 2]}}}])
    with pytest.raises(ValueError, match="non-empty"):
        aggregate(df, [{"$project": {"x": {"$split": ["$s", ""]}}}])


def test_cmp_null_sorts_lowest(spark):
    """$cmp follows BSON ordering: null < any value, null == null."""
    df = spark.createDataFrame([(None, 5), (5, None), (None, None),
                                (3, 5)], "a int, b int")
    got = aggregate(df, [{"$project": {"c": {"$cmp": ["$a", "$b"]}}}]).collect()
    assert [g.c for g in got] == [-1, 1, 0, -1]


def test_date_format_unknown_specifier_raises(spark):
    """Unknown % specifiers raise instead of rendering literally; %%
    stays a literal percent."""
    import datetime as dt

    df = spark.createDataFrame([(dt.datetime(2024, 3, 7, 22, 45),)],
                               "a timestamp")
    with pytest.raises(ValueError, match="unsupported date format"):
        aggregate(df, [{"$project": {"s": {"$dateToString": {
            "date": "$a", "format": "%G-%V"}}}}])
    got = aggregate(df, [{"$project": {"s": {"$dateToString": {
        "date": "$a", "format": "%Y%%%m"}}}}]).collect()[0]
    assert got.s == "2024%03"


def test_filter_limit_and_indexofarray_range(spark):
    """r10: $filter honors the Mongo-5.2 limit arg (previously ignored
    silently); $indexOfArray honors the 4-arg [start, end) range form,
    reporting the index against the original array."""
    df = spark.createDataFrame([(1, [1, 5, 2, 6, 3, 7])],
                               "id long, xs array<int>")
    got = aggregate(df, [{"$project": {
        "f2": {"$filter": {"input": "$xs", "as": "x",
                           "cond": {"$gt": ["$$x", 2]}, "limit": 2}},
        "i_all": {"$indexOfArray": ["$xs", 3]},
        "i_from": {"$indexOfArray": ["$xs", 5, 2]},
        "i_rng": {"$indexOfArray": ["$xs", 6, 1, 3]},
        "i_miss": {"$indexOfArray": ["$xs", 6, 1, 3]},
        "i_in": {"$indexOfArray": ["$xs", 2, 1, 4]},
    }}]).collect()[0]
    assert got.f2 == [5, 6]
    assert got.i_all == 4
    assert got.i_from == -1        # 5 sits at index 1, before start=2
    assert got.i_rng == -1         # 6 is at index 3, outside [1, 3)
    assert got.i_in == 2
    with pytest.raises(ValueError, match="limit"):
        aggregate(df, [{"$project": {"x": {"$filter": {
            "input": "$xs", "cond": True, "limit": 0}}}}])
    with pytest.raises(ValueError, match="nonnegative"):
        aggregate(df, [{"$project": {"x": {"$indexOfArray":
                                           ["$xs", 1, -2]}}}])


def test_indexofarray_null_safe_both_forms(spark):
    """r11 ADVICE: a null search value behaves identically in the 2-arg
    and range forms — aggregation equality treats null == null, so a null
    needle FINDS null elements and otherwise yields -1 (never a poisoned
    null result); a null ARRAY still yields null in both forms."""
    df = spark.createDataFrame(
        [(1, [1, None, 3], None),
         (2, [1, 2, 3], None),
         (3, None, None)],
        "id long, xs array<int>, nil int")
    got = aggregate(df, [{"$project": {
        "id": 1,
        "two": {"$indexOfArray": ["$xs", "$nil"]},
        "rng": {"$indexOfArray": ["$xs", "$nil", 0, 3]},
        "from2": {"$indexOfArray": ["$xs", "$nil", 2]},
    }}, {"$sort": {"id": 1}}]).collect()
    assert [r.two for r in got] == [1, -1, None]
    assert [r.rng for r in got] == [1, -1, None]
    assert [r.from2 for r in got] == [-1, -1, None]


def test_substrcp_runtime_negative_clamps(spark):
    """r11 ADVICE: an expression start/length that evaluates negative at
    runtime is clamped to 0 (documented deviation: the server errors) —
    it must NOT flip into Spark substring's count-from-the-end mode."""
    df = spark.createDataFrame([("abcdef", -2, -3)],
                               "s string, st int, ln int")
    got = aggregate(df, [{"$project": {
        "neg_start": {"$substrCP": ["$s", "$st", 3]},
        "neg_len": {"$substrCP": ["$s", 1, "$ln"]},
    }}]).collect()[0]
    assert got.neg_start == "abc"   # clamped start=0, not tail "ef"
    assert got.neg_len == ""        # clamped length=0, not from-the-end


def test_sum_avg_scalar_passthrough_decimal_normalizes(spark):
    """r11 ADVICE: the {$sum|$avg: "$field"} scalar pass-through
    normalizes DecimalType to double like the bare field-path branch."""
    df = spark.createDataFrame([(1,)], "id long").selectExpr(
        "id", "cast(1.5 as decimal(12,2)) as price")
    got = aggregate(df, [{"$project": {
        "s": {"$sum": "$price"}, "a": {"$avg": "$price"}}}])
    assert dict(got.dtypes) == {"s": "double", "a": "double"}
    r = got.collect()[0]
    assert r.s == 1.5 and r.a == 1.5


def test_min_max_scalar_passthrough(spark):
    """r11: $min/$max in expression context pass scalar operands through
    like the server — scalar literals ({$max: 5} → 5, {$min: "abc"} →
    "abc") and schema-resolvable scalar field paths ({$max: "$price"} on
    a non-array column is $price, decimals normalized to double);
    array operands still fold."""
    df = spark.createDataFrame([(1, [3, 1, 2])], "id long, xs array<int>") \
        .selectExpr("id", "xs", "cast(2.5 as decimal(12,2)) as price",
                    "cast(null as int) as nil")
    got = aggregate(df, [{"$project": {
        "lit_n": {"$max": 5},
        "lit_s": {"$min": "abc"},
        "fp": {"$max": "$price"},
        "fp_null": {"$min": "$nil"},
        "arr_max": {"$max": "$xs"},
        "arr_min": {"$min": "$xs"},
        "two": {"$max": ["$id", 7]},
    }}])
    assert dict(got.dtypes)["fp"] == "double"
    r = got.collect()[0]
    assert r.lit_n == 5 and r.lit_s == "abc"
    assert r.fp == 2.5 and r.fp_null is None
    assert r.arr_max == 3 and r.arr_min == 1 and r.two == 7


def test_switch_no_default_no_match_errors(spark):
    """r11: $switch with no matching branch and no default FAILS the query
    like the server (previously fell through to a silent null)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame([(1,), (99,)], "v long")
    pipe = [{"$project": {"sw": {"$switch": {"branches": [
        {"case": {"$lt": ["$v", 10]}, "then": "small"}]}}}}]
    with pytest.raises(SparkRuntimeException, match="matching branch"):
        aggregate(df, pipe).collect()
    # all rows matching → no error
    ok = aggregate(df.where("v < 10"), pipe).collect()
    assert [r.sw for r in ok] == ["small"]


def test_in_expression_null_safe(spark):
    """r11: expression-form $in uses aggregation equality — a null needle
    FINDS null elements (array_contains would poison the result null)."""
    df = spark.createDataFrame(
        [(1, [1, None, 3], None), (2, [1, 2], None)],
        "id long, xs array<int>, nil int")
    got = aggregate(df, [
        {"$project": {"id": 1, "has_nil": {"$in": ["$nil", "$xs"]},
                      "has_two": {"$in": [2, "$xs"]}}},
        {"$sort": {"id": 1}}]).collect()
    assert [r.has_nil for r in got] == [True, False]
    assert [r.has_two for r in got] == [False, True]


def test_array_elem_at_expression_index(spark):
    """r11: $arrayElemAt with an EXPRESSION index (previously silently
    read as 0); negatives count from the end, out-of-range → null."""
    df = spark.createDataFrame([([10, 20, 30], 1), ([10, 20, 30], -1),
                                ([10, 20, 30], 9)],
                               "a array<int>, i int")
    got = aggregate(df, [{"$project": {
        "v": {"$arrayElemAt": ["$a", "$i"]}}}]).collect()
    assert [r.v for r in got] == [20, 30, None]


def test_merge_objects_ignores_null_operands(spark):
    """r11: $mergeObjects ignores null operands like the server (all-null
    → {}); later keys still overwrite earlier ones."""
    df = spark.createDataFrame(
        [(1,)], "id long").selectExpr(
        "id", "map('a', 1, 'b', 2) as m1",
        "cast(null as map<string,int>) as mnull",
        "map('b', 9) as m2")
    got = aggregate(df, [{"$project": {
        "m": {"$mergeObjects": ["$m1", "$mnull", "$m2"]},
        "all_null": {"$mergeObjects": ["$mnull", "$mnull"]},
    }}]).collect()[0]
    assert dict(got.m) == {"a": 1, "b": 9}
    assert dict(got.all_null) == {}


def test_week_is_sunday_start_not_iso(spark):
    """r11: $week is the Sunday-start %U week (days before the first
    Sunday are week 0); $isoWeek stays ISO."""
    df = spark.createDataFrame(
        [("2024-01-01",), ("2024-01-07",), ("2024-12-31",),
         ("2023-01-01",)], "d string").selectExpr(
        "cast(d as timestamp) as ts")
    got = aggregate(df, [{"$project": {
        "w": {"$week": "$ts"}, "iso": {"$isoWeek": "$ts"}}}]).collect()
    # 2024-01-01 Mon → week 0 (%U); ISO week 1
    # 2024-01-07 first Sunday → week 1; 2024-12-31 → 52
    # 2023-01-01 IS a Sunday → week 1 immediately
    assert [r.w for r in got] == [0, 1, 52, 1]
    assert got[0].iso == 1


def test_regex_options_honored(spark):
    """r11: $regexMatch/$regexFind(All) honor the options argument
    (previously silently ignored); unsupported letters refuse loudly."""
    df = spark.createDataFrame([("Hello World",)], "s string")
    got = aggregate(df, [{"$project": {
        "ci": {"$regexMatch": {"input": "$s", "regex": "hello",
                               "options": "i"}},
        "cs": {"$regexMatch": {"input": "$s", "regex": "hello"}},
        "find_ci": {"$regexFind": {"input": "$s", "regex": "w(or)ld",
                                   "options": "i"}},
    }}]).collect()[0]
    assert got.ci is True and got.cs is False
    assert got.find_ci.match == "World" and got.find_ci.captures == ["or"]
    with pytest.raises(ValueError, match="unsupported"):
        aggregate(df, [{"$project": {"x": {"$regexMatch": {
            "input": "$s", "regex": "a", "options": "u"}}}}])


def test_round_expression_places_refuses(spark):
    """r11: an expression $round place refuses loudly instead of being
    silently read as 0 (Spark bround takes a literal scale)."""
    df = spark.createDataFrame([(2.567, 1)], "v double, p int")
    assert aggregate(df, [{"$project": {
        "r": {"$round": ["$v", 1]}}}]).collect()[0].r == 2.6
    with pytest.raises(ValueError, match="integer literal"):
        aggregate(df, [{"$project": {"r": {"$round": ["$v", "$p"]}}}])


def test_date_parts_iso8601_and_millisecond_carry(spark):
    """r11: $dateToParts honors iso8601:true (ISO week-date triple —
    previously silently ignored); $dateFromParts carries millisecond
    (previously silently dropped) and refuses the ISO/timezone fields."""
    df = spark.createDataFrame([("2024-01-01 10:20:30",)], "d string") \
        .selectExpr("cast(d as timestamp) as ts")
    got = aggregate(df, [{"$project": {
        "iso": {"$dateToParts": {"date": "$ts", "iso8601": True}},
        "cal": {"$dateToParts": {"date": "$ts"}},
        "made": {"$dateFromParts": {
            "year": 2024, "month": 1, "day": 1, "hour": 10,
            "minute": 20, "second": 30, "millisecond": 450}},
    }}]).collect()[0]
    # 2024-01-01 is Monday of ISO week 1 of ISO year 2024
    assert (got.iso.isoWeekYear, got.iso.isoWeek, got.iso.isoDayOfWeek) \
        == (2024, 1, 1)
    assert got.iso.hour == 10 and got.iso.millisecond == 0
    assert got.cal.year == 2024 and got.cal.day == 1
    assert got.made.microsecond == 450000
    with pytest.raises(ValueError, match="unsupported"):
        aggregate(df, [{"$project": {"x": {"$dateFromParts": {
            "isoWeekYear": 2024, "isoWeek": 1}}}}])


def test_group_accumulators_null_semantics(spark):
    """r11 accumulator parity: $push/$addToSet/$firstN keep NULL inputs
    (server includes them; bare collect_list/collect_set drop them);
    $sum over a group with no numeric inputs is 0, never null."""
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 1), ("b", None)],
        "k string, v int")
    got = {r._id: r for r in aggregate(df, [{"$group": {
        "_id": "$k",
        "pushed": {"$push": "$v"},
        "uniq": {"$addToSet": "$v"},
        "f2": {"$firstN": {"input": "$v", "n": 2}},
        "total": {"$sum": "$v"},
    }}]).collect()}
    assert got["a"].pushed == [1, None, 1]
    assert got["a"].uniq == [1, None]          # null kept, sorted last
    assert got["a"].f2 == [1, None]
    assert got["a"].total == 2
    assert got["b"].pushed == [None] and got["b"].uniq == [None]
    assert got["b"].total == 0                 # all-null group sums to 0


def test_window_sum_empty_frame_is_zero(spark):
    """r11: a window $sum over an EMPTY frame (strictly-future documents
    frame at the partition tail) is 0 like the server, never null."""
    df = spark.createDataFrame([("a", 1, 10), ("a", 2, 20), ("a", 3, 30)],
                               "k string, seq int, v int")
    got = aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"seq": 1},
            "output": {"fut": {"$sum": "$v",
                               "window": {"documents": [1, 2]}}}}},
        {"$sort": {"seq": 1}}]).collect()
    assert [r.fut for r in got] == [50, 30, 0]


def test_match_regex_options(spark):
    """r11: the find-language {field: {$regex, $options}} form is honored
    (previously refused); unsupported option letters still refuse."""
    df = spark.createDataFrame([("Hello",), ("world",)], "s string")
    got = aggregate(df, [{"$match": {"s": {"$regex": "^hello",
                                           "$options": "i"}}}]).collect()
    assert [r.s for r in got] == ["Hello"]
    with pytest.raises(ValueError, match="unsupported"):
        aggregate(df, [{"$match": {"s": {"$regex": "a",
                                         "$options": "g"}}}]).collect()
    with pytest.raises(ValueError, match="only valid next to"):
        aggregate(df, [{"$match": {"s": {"$options": "i"}}}]).collect()


def test_lookup_pipeline_computed_let_and_in(lk_orders, lk_items):
    """r11: $lookup pipeline $expr accepts COMPUTED local operands
    (dicts/lists over $$variables and literals — compiled to local
    Columns, equi-joinable) and binary $in membership residuals
    (previously both refused as 'binary comparisons only')."""
    got = aggregate(lk_orders, [
        {"$lookup": {
            "from": "items",
            "let": {"cap": "$cap"},
            "pipeline": [{"$match": {"$expr": {"$and": [
                # $in: foreign scalar vs literal list (residual)
                {"$in": ["$ikey", [1, 3]]},
                # computed local operand: price <= cap * 2
                {"$lte": ["$price", {"$multiply": ["$$cap", 2]}]},
            ]}}}, {"$sort": {"price": -1}},
                {"$project": {"price": 1}}],
            "as": "hits"}},
        {"$project": {"okey": 1,
                      "prices": {"$map": {"input": "$hits", "as": "h",
                                          "in": "$$h.price"}}}},
        {"$sort": {"okey": 1}},
    ], tables={"items": lk_items})
    r = {row.okey: row.prices for row in got.collect()}
    # items with ikey in (1,): prices 30/120/80 — ikey 3 has no rows
    # okey=1 cap=100 → <=200: all of [120, 80, 30]
    # okey=2 cap=50 → <=100: [80, 30]; okey=3 cap=10 → <=20: []
    assert r == {1: [120.0, 80.0, 30.0], 2: [80.0, 30.0], 3: []}


def test_lookup_pipeline_computed_equi_key(lk_orders, lk_items):
    """r11: a computed local operand on the $eq side becomes an
    EQUI-JOIN key (never a nested loop): ikey == okey + 1 - 1."""
    got = aggregate(lk_orders, [
        {"$lookup": {
            "from": "items", "let": {"k": "$okey"},
            "pipeline": [{"$match": {"$expr": {"$eq": [
                "$ikey", {"$subtract": [{"$add": ["$$k", 1]}, 1]}]}}}],
            "as": "hits"}},
        {"$project": {"okey": 1, "n": {"$size": "$hits"}}},
        {"$sort": {"okey": 1}},
    ], tables={"items": lk_items})
    assert [(r.okey, r.n) for r in got.collect()] == [(1, 3), (2, 2), (3, 0)]


def test_tostring_timestamp_iso8601_utc(spark):
    """r11: schema-resolvable $toString on a timestamp column renders the
    server's ISO-8601 UTC shape (session-TZ-independent by construction:
    the NTZ wall clock is rebased current_timezone → UTC before
    formatting); numeric $toString is unchanged."""
    df = spark.createDataFrame([("2024-01-01 10:20:30", 7)],
                               "d string, n int").selectExpr(
        "cast(d as timestamp) as ts", "n")
    got = aggregate(df, [{"$project": {
        "s": {"$toString": "$ts"}, "sn": {"$toString": "$n"}}}]).collect()[0]
    assert got.s == "2024-01-01T10:20:30.000Z"
    assert got.sn == "7"


def test_lookup_pipeline_or_residual(lk_orders, lk_items):
    """r11: $or subtrees in $lookup $expr compile to element-level
    boolean residuals (previously refused); top-level $eq arms still
    extract as equi-join keys."""
    got = aggregate(lk_orders, [
        {"$lookup": {
            "from": "items", "let": {"k": "$okey", "cap": "$cap"},
            "pipeline": [{"$match": {"$expr": {"$and": [
                {"$eq": ["$ikey", "$$k"]},                  # equi key
                {"$or": [{"$lte": ["$price", "$$cap"]},     # residual OR
                         {"$gte": ["$price", 100]}]},
            ]}}}, {"$sort": {"price": 1}},
                {"$project": {"price": 1}}],
            "as": "hits"}},
        {"$project": {"okey": 1,
                      "prices": {"$map": {"input": "$hits", "as": "h",
                                          "in": "$$h.price"}}}},
        {"$sort": {"okey": 1}},
    ], tables={"items": lk_items})
    r = {row.okey: row.prices for row in got.collect()}
    # okey=1 (cap 100): ikey=1 prices 30/80/120 → <=100 or >=100 → all
    # okey=2 (cap 50): ikey=2 prices 45/60 → 45<=50 or 60>=100? no → [45]
    # okey=3: no ikey=3 items → []
    assert r == {1: [30.0, 80.0, 120.0], 2: [45.0], 3: []}


def test_graph_lookup_depth_field_and_restrict(spark):
    """r11: $graphLookup honors depthField (MIN recursion depth per
    reached doc, startWith = 0) and restrictSearchWithMatch (query-
    language pre-filter) — both previously silently ignored; unknown
    spec keys refuse loudly."""
    people = spark.createDataFrame([("a",), ("x",)], "start string")
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("a", "c", 0)],
        "frm string, dst string, w int")
    t = {"edges": edges}
    got = aggregate(people, [{"$graphLookup": {
        "from": "edges", "startWith": "$start",
        "connectFromField": "dst", "connectToField": "frm",
        "as": "reach", "maxDepth": 3, "depthField": "d"}}],
        tables=t).collect()
    r = {row.start: {(e.frm, e.dst, e.d) for e in row.reach} for row in got}
    # from "a": depth0 = a->b, a->c; depth1 = b->c, c->d (via a->b/a->c);
    # edge c->d reachable at depth 1 (via a->c) — MIN depth wins
    assert r["a"] == {("a", "b", 0), ("a", "c", 0), ("b", "c", 1),
                      ("c", "d", 1)}
    assert r["x"] == set()
    # restrictSearchWithMatch prunes w=0 edges BEFORE traversal: a->c
    # disappears, so c->d is now only reachable at depth 2 via b
    got2 = aggregate(people, [{"$graphLookup": {
        "from": "edges", "startWith": "$start",
        "connectFromField": "dst", "connectToField": "frm",
        "as": "reach", "maxDepth": 3, "depthField": "d",
        "restrictSearchWithMatch": {"w": 1}}}], tables=t).collect()
    r2 = {row.start: {(e.frm, e.dst, e.d) for e in row.reach} for row in got2}
    assert r2["a"] == {("a", "b", 0), ("b", "c", 1), ("c", "d", 2)}
    with pytest.raises(ValueError, match="unsupported \\$graphLookup"):
        aggregate(people, [{"$graphLookup": {
            "from": "edges", "startWith": "$start",
            "connectFromField": "dst", "connectToField": "frm",
            "as": "reach", "maxDepth": 1, "bogus": 1}}], tables=t)


def test_densify_fixed_subday_units(spark):
    """r11: $densify supports all fixed-duration units (ms..week), not
    just day; calendar-variable units still refuse."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",), ("2024-01-01 03:00:00",)],
        "d string").selectExpr("cast(d as timestamp) as ts")
    got = aggregate(df, [{"$densify": {
        "field": "ts", "range": {"step": 1, "unit": "hour",
                                 "bounds": "full"}}}]).collect()
    assert len(got) == 4      # 00,01,02,03
    wk = spark.createDataFrame(
        [("2024-01-01",), ("2024-01-15",)], "d string").selectExpr(
        "cast(d as timestamp) as ts")
    got_w = aggregate(wk, [{"$densify": {
        "field": "ts", "range": {"step": 1, "unit": "week",
                                 "bounds": "full"}}}]).collect()
    assert len(got_w) == 3    # Jan 1, 8, 15
    with pytest.raises(ValueError, match="unsupported .densify unit"):
        aggregate(df, [{"$densify": {
            "field": "ts", "range": {"step": 1, "unit": "fortnight",
                                     "bounds": "full"}}}])


def test_densify_calendar_units(spark):
    """r12: month/quarter/year $densify — ANCHORED stepping
    (value_i = lo + i*step months via timestampadd): a day-31 anchor
    clamps per step from the anchor (Jan 31 -> Feb 28 -> Mar 31 ->
    Apr 30), never compounding the clamp (Mar 28)."""
    import datetime as dt
    df = spark.createDataFrame(
        [(dt.datetime(2021, 1, 31, 10, 30), 1),
         (dt.datetime(2021, 4, 30, 10, 30), 4)], "ts timestamp, x long")
    got = aggregate(df, [
        {"$densify": {"field": "ts", "range": {"step": 1, "unit": "month",
                                               "bounds": "full"}}},
        {"$sort": {"ts": 1}},
    ]).collect()
    assert [r.ts for r in got] == [
        dt.datetime(2021, 1, 31, 10, 30), dt.datetime(2021, 2, 28, 10, 30),
        dt.datetime(2021, 3, 31, 10, 30), dt.datetime(2021, 4, 30, 10, 30)]
    # quarter = 3 months; the clamp can overshoot __hi (Jan 31 + 1
    # quarter = Apr 30 > Apr 15) — the axis filter must drop it
    df2 = spark.createDataFrame(
        [(dt.datetime(2021, 1, 31), 1), (dt.datetime(2021, 4, 15), 2)],
        "ts timestamp, x long")
    got2 = aggregate(df2, [
        {"$densify": {"field": "ts", "range": {"step": 1, "unit": "quarter",
                                               "bounds": "full"}}},
        {"$sort": {"ts": 1}},
    ]).collect()
    assert [r.ts for r in got2] == [dt.datetime(2021, 1, 31),
                                    dt.datetime(2021, 4, 15)]
    # year unit on a DATE column keeps the column type
    df3 = spark.createDataFrame(
        [(dt.date(2020, 2, 29), 1), (dt.date(2023, 1, 1), 2)],
        "d date, x long")
    got3 = aggregate(df3, [
        {"$densify": {"field": "d", "range": {"step": 1, "unit": "year",
                                              "bounds": "full"}}},
        {"$sort": {"d": 1}},
    ]).collect()
    assert [r.d for r in got3] == [
        dt.date(2020, 2, 29), dt.date(2021, 2, 28), dt.date(2022, 2, 28),
        dt.date(2023, 1, 1)]   # leap anchor clamps, axis stays date-typed
    # partitioned calendar bounds: each partition gets its own axis
    df4 = spark.createDataFrame(
        [("a", dt.datetime(2021, 1, 1)), ("a", dt.datetime(2021, 4, 1)),
         ("b", dt.datetime(2021, 6, 1))], "g string, ts timestamp")
    got4 = aggregate(df4, [
        {"$densify": {"field": "ts", "partitionByFields": ["g"],
                      "range": {"step": 1, "unit": "month",
                                "bounds": "partition"}}},
        {"$sort": {"g": 1, "ts": 1}},
    ]).collect()
    assert [(r.g, r.ts.month) for r in got4] == [
        ("a", 1), ("a", 2), ("a", 3), ("a", 4), ("b", 6)]


def test_densify_preserves_off_step_rows(spark):
    """r12: the server returns every original document unmodified even
    when its value is off the generated step axis — a row at k=4 under
    step 2 from lo=1 must survive (previously dropped by the left join
    from the axis)."""
    df = spark.createDataFrame([(1, "a"), (4, "b"), (7, "c")],
                               "k long, v string")
    got = aggregate(df, [
        {"$densify": {"field": "k", "range": {"step": 2, "bounds": "full"}}},
        {"$sort": {"k": 1}},
    ]).collect()
    assert [(r.k, r.v) for r in got] == [
        (1, "a"), (3, None), (4, "b"), (5, None), (7, "c")]


def test_densify_day_anchored_at_lo(spark):
    """r12 review: the day axis is anchored at lo ITSELF (time-of-day
    preserved) like the server — not truncated to midnight, which
    generated null-payload midnight ghosts on intra-day data."""
    import datetime as dt
    df = spark.createDataFrame(
        [(dt.datetime(2021, 1, 1, 10, 0), 1),
         (dt.datetime(2021, 1, 3, 9, 0), 3)], "ts timestamp, x long")
    got = aggregate(df, [
        {"$densify": {"field": "ts", "range": {"step": 1, "unit": "day",
                                               "bounds": "full"}}},
        {"$sort": {"ts": 1}},
    ]).collect()
    assert [(r.ts, r.x) for r in got] == [
        (dt.datetime(2021, 1, 1, 10, 0), 1),
        (dt.datetime(2021, 1, 2, 10, 0), None),
        (dt.datetime(2021, 1, 3, 9, 0), 3)]


def test_densify_fractional_numeric(spark):
    """r12 review: fractional steps and floating fields generate the
    exact lo + i*step axis (previously int() silently mangled both);
    fractional steps on integer fields refuse."""
    df = spark.createDataFrame([(0.0, "a"), (1.5, "b")], "x double, v string")
    got = aggregate(df, [
        {"$densify": {"field": "x", "range": {"step": 0.5,
                                              "bounds": "full"}}},
        {"$sort": {"x": 1}},
    ]).collect()
    assert [r.x for r in got] == [0.0, 0.5, 1.0, 1.5]
    # explicit bounds stay half-open on the fractional path too
    got2 = aggregate(df, [
        {"$densify": {"field": "x", "range": {"step": 0.5,
                                              "bounds": [0.0, 1.5]}}},
        {"$sort": {"x": 1}},
    ]).collect()
    assert [r.x for r in got2] == [0.0, 0.5, 1.0, 1.5]  # 1.5 is original
    assert [r.v for r in got2] == ["a", None, None, "b"]
    ints = spark.createDataFrame([(1,), (4,)], "k long")
    with pytest.raises(ValueError, match="fractional step"):
        aggregate(ints, [{"$densify": {
            "field": "k", "range": {"step": 0.5, "bounds": "full"}}}])
    with pytest.raises(ValueError, match="positive number"):
        aggregate(ints, [{"$densify": {
            "field": "k", "range": {"step": 0, "bounds": "full"}}}])


def test_densify_subday_unit_on_date_refuses(spark):
    """r12 review: a sub-day unit on a DATE-typed field would generate
    duplicate date axis values and multiply joined originals — refuse."""
    import datetime as dt
    df = spark.createDataFrame([(dt.date(2021, 1, 1),)], "d date")
    with pytest.raises(ValueError, match="finer than date-typed"):
        aggregate(df, [{"$densify": {
            "field": "d", "range": {"step": 1, "unit": "hour",
                                    "bounds": "full"}}}])
    with pytest.raises(ValueError, match="non-integer steps"):
        aggregate(df, [{"$densify": {
            "field": "d", "range": {"step": 1.5, "unit": "day",
                                    "bounds": "full"}}}])


def test_densify_null_partition_key(spark):
    """r12 review: a null partition key merges with its own axis row
    (null-safe join) instead of splitting into ghost + original."""
    df = spark.createDataFrame([("a", 1, 1.0), ("a", 3, 3.0),
                                (None, 1, 9.0), (None, 3, 7.0)],
                               "g string, k long, v double")
    got = aggregate(df, [
        {"$densify": {"field": "k", "partitionByFields": ["g"],
                      "range": {"step": 1, "bounds": "partition"}}},
        {"$sort": {"g": 1, "k": 1}},
    ]).collect()
    assert [(r.g, r.k, r.v) for r in got] == [
        (None, 1, 9.0), (None, 2, None), (None, 3, 7.0),
        ("a", 1, 1.0), ("a", 2, None), ("a", 3, 3.0)]


def test_densify_unit_requires_date_field(spark):
    """r12 (advice): range.unit on a NUMERIC field refuses loudly like
    the server instead of silently casting long->timestamp (seconds)."""
    df = spark.createDataFrame([(1,), (5,)], "k long")
    for unit in ("day", "month"):
        with pytest.raises(ValueError, match="requires a date field"):
            aggregate(df, [{"$densify": {
                "field": "k", "range": {"step": 1, "unit": unit,
                                        "bounds": "full"}}}])


def test_window_n_accumulators(spark):
    """r12: $setWindowFields supports the N-accumulator family
    ($addToSet, $minN/$maxN, $firstN/$lastN, $top/$bottom(N)) with the
    same null/ordering contracts as the group forms."""
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, 30.0), ("a", 4, 10.0),
         ("b", 1, 5.0)],
        "g string, seq long, v double")
    got = aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"seq": 1},
            "output": {
                "st": {"$addToSet": "$v"},
                "mn2": {"$minN": {"input": "$v", "n": 2}},
                "mx2": {"$maxN": {"input": "$v", "n": 2}},
                "f2": {"$firstN": {"input": "$v", "n": 2}},
                "l2": {"$lastN": {"input": "$v", "n": 2}},
                "best": {"$top": {"sortBy": {"v": -1}, "output": "$seq"}},
                "top2": {"$topN": {"sortBy": {"v": -1}, "output": "$seq",
                                   "n": 2}},
                "bot2": {"$bottomN": {"sortBy": {"v": -1}, "output": "$seq",
                                      "n": 2}},
            }}},
        {"$match": {"seq": 1}},
        {"$sort": {"g": 1}},
    ]).collect()
    a, b = got
    assert a.st == [10.0, 30.0, None]        # distinct sorted, one null kept
    assert a.mn2 == [10.0, 10.0] and a.mx2 == [30.0, 10.0]
    assert a.f2 == [10.0, None]              # firstN keeps nulls
    assert a.l2 == [30.0, 10.0]
    assert a.best == 3                        # highest v
    assert a.top2 == [3, 1] and a.bot2 == [4, 2]   # desc-v order / tail
    assert b.st == [5.0] and b.best == 1 and b.top2 == [1]


def test_shift_default_only_out_of_partition(spark):
    """r12 review: $shift 'default' applies ONLY when the shifted
    position falls outside the partition — a genuine null field value
    at a valid position stays null (coalesce had replaced both); and
    'by' is required like the server."""
    df = spark.createDataFrame([("g", 1, 10.0), ("g", 2, None),
                                ("g", 3, 30.0)],
                               "g string, seq long, v double")
    got = aggregate(df, [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"seq": 1},
            "output": {"nxt": {"$shift": {"output": "$v", "by": 1,
                                          "default": -1.0}}}}},
        {"$sort": {"seq": 1}},
    ]).collect()
    # seq1 -> next value is the GENUINE null at seq2, not the default;
    # seq3 -> out of partition -> default
    assert [r.nxt for r in got] == [None, 30.0, -1.0]
    with pytest.raises(ValueError, match="requires 'by'"):
        aggregate(df, [{"$setWindowFields": {
            "sortBy": {"seq": 1},
            "output": {"nxt": {"$shift": {"output": "$v"}}}}}])


def test_densify_fractional_explicit_bounds_refuse(spark):
    """r12 review: fractional explicit bounds on an integer field would
    silently truncate to a wrong axis — refuse; an explicit timestamp
    bound is honored exactly (not truncated through the field type)."""
    import datetime as dt
    ints = spark.createDataFrame([(1,), (4,)], "k long")
    with pytest.raises(ValueError, match="fractional explicit bounds"):
        aggregate(ints, [{"$densify": {
            "field": "k", "range": {"step": 1, "bounds": [0.5, 3.5]}}}])
    # timestamp explicit bounds on a timestamp field: [lo, hi) honors
    # the time-of-day in hi exactly
    ts = spark.createDataFrame([(dt.datetime(2021, 1, 1, 10, 0),)],
                               "t timestamp")
    got = aggregate(ts, [{"$densify": {
        "field": "t", "range": {"step": 1, "unit": "day",
                                "bounds": [dt.datetime(2021, 1, 1, 10, 0),
                                           dt.datetime(2021, 1, 3, 10, 0)]}}},
        {"$sort": {"t": 1}}]).collect()
    assert [r.t for r in got] == [dt.datetime(2021, 1, 1, 10, 0),
                                  dt.datetime(2021, 1, 2, 10, 0)]


def test_ranked_accumulator_desc_nulls_last(spark):
    """r12 parity: BSON order puts null smallest, so a DESCENDING
    $topN sortBy ranks null values LAST (the bare negation trick put
    them first); ascending keeps them first."""
    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, None), ("g", 3, 30.0)],
        "g string, seq long, v double")
    got = aggregate(df, [{"$group": {
        "_id": "$g",
        "top2": {"$topN": {"sortBy": {"v": -1}, "output": "$seq", "n": 2}},
        "bot1": {"$bottom": {"sortBy": {"v": -1}, "output": "$seq"}},
        "asc2": {"$topN": {"sortBy": {"v": 1}, "output": "$seq", "n": 2}},
    }}]).collect()[0]
    assert got.top2 == [3, 1]     # null ranks past every number, desc
    assert got.bot1 == 2          # ...so it is the bottom
    assert got.asc2 == [2, 1]     # ascending: null first (BSON smallest)


def test_stage_specs_refuse_unknown_keys(spark):
    """r12 (verdict item 6, the silently-ignored-argument audit): every
    multi-key stage spec refuses unknown arguments loudly — a misspelled
    or unsupported key must fail the plan, never be dropped."""
    df = spark.createDataFrame([(1, 2.0, "a")], "k long, v double, g string")
    cases = [
        ({"$bucket": {"groupBy": "$k", "boundaries": [0, 5],
                      "granularity": "R5"}}, "bucket"),
        ({"$bucketAuto": {"groupBy": "$k", "buckets": 2,
                          "boundaries": [0, 5]}}, "bucketAuto"),
        ({"$setWindowFields": {"sortBy": {"k": 1},
                               "output": {"r": {"$rank": {}}},
                               "partitionByFields": ["g"]}},
         "setWindowFields"),
        ({"$sample": {"size": 1, "seed": 7}}, "sample"),
        ({"$densify": {"field": "k", "range": {"step": 1, "bounds": "full"},
                       "partitionBy": "$g"}}, "densify"),
        ({"$densify": {"field": "k",
                       "range": {"step": 1, "bounds": "full",
                                 "granularity": 2}}}, "densify range"),
        ({"$fill": {"output": {"v": {"value": 0}}, "sortKey": {"k": 1}}},
         "fill"),
    ]
    for stage, label in cases:
        with pytest.raises(ValueError, match="unknown argument"):
            aggregate(df, [stage]).collect()
    # $unionWith unknown key (needs a tables binding to get past nothing)
    with pytest.raises(ValueError, match="unknown argument"):
        aggregate(df, [{"$unionWith": {"coll": "t", "let": {}}}],
                  tables={"t": df})
    # $unwind / $geoNear / $lookup unknown keys
    adf = spark.createDataFrame([(1, [1, 2])], "k long, xs array<int>")
    with pytest.raises(ValueError, match="unknown argument"):
        aggregate(adf, [{"$unwind": {"path": "$xs", "preserveNull": 1}}])
    pdf = spark.createDataFrame([(1, [0.0, 0.0])],
                                "k long, loc array<double>")
    with pytest.raises(ValueError, match="unknown argument"):
        aggregate(pdf, [{"$geoNear": {"near": [0.0, 0.0], "key": "loc",
                                      "distanceField": "d",
                                      "includeLocs": "l"}}])
    with pytest.raises(ValueError, match="unknown argument"):
        aggregate(adf, [{"$lookup": {"from": "t", "localField": "k",
                                     "foreignField": "k", "as": "m",
                                     "localfield": "k"}}], tables={"t": adf})
    # $setWindowFields output: exactly one operator per field
    with pytest.raises(ValueError, match="exactly one window operator"):
        aggregate(df, [{"$setWindowFields": {
            "sortBy": {"k": 1},
            "output": {"r": {"$rank": {}, "$denseRank": {}}}}}])
    # $fill output: value XOR method, nothing else
    with pytest.raises(ValueError, match=r"\$fill output"):
        aggregate(df, [{"$fill": {
            "sortBy": {"k": 1},
            "output": {"v": {"value": 0, "method": "locf"}}}}])


def test_expr_operands_refuse_unknown_keys(spark):
    """r12: the silently-ignored-argument audit extended to the
    EXPRESSION language — multi-key operand docs refuse unknown keys."""
    df = spark.createDataFrame([(1, [3, 1, 2], "x")],
                               "k long, xs array<int>, s string")
    cases = [
        {"$dateTrunc": {"date": "$k", "unit": "day", "binsize": 2}},
        {"$dateAdd": {"startDate": "$k", "unit": "day", "amount": 1,
                      "amonut": 2}},
        {"$filter": {"input": "$xs", "cond": True, "als": "x"}},
        {"$map": {"input": "$xs", "as": "x", "in": "$$x", "limit": 3}},
        {"$sortArray": {"input": "$xs", "sortOrder": 1}},
        {"$zip": {"inputs": ["$xs"], "useLongest": True}},
        {"$regexMatch": {"input": "$s", "regex": "a", "option": "i"}},
        {"$replaceOne": {"input": "$s", "find": "x", "replace": "y"}},
        {"$convert": {"input": "$k", "to": "string", "onErr": 0}},
        {"$trim": {"input": "$s", "char": "x"}},
        {"$let": {"vars": {"a": 1}, "in_": "$$a"}},
        {"$setField": {"field": "f", "input": {"f": 1}, "val": 2}},
        {"$switch": {"branches": [{"case": True, "then": 1,
                                   "els": 2}]}},
        {"$topN": {"sortBy": {"k": 1}, "output": "$k", "n": 2,
                   "limit": 3}},
        {"$minN": {"input": "$xs", "count": 2}},
    ]
    for expr in cases:
        with pytest.raises(ValueError, match="unknown argument"):
            aggregate(df, [{"$project": {"y": expr}}]).collect()
    # accumulator / window forms share the audit
    with pytest.raises(ValueError, match="unknown argument"):
        aggregate(df, [{"$group": {"_id": None, "v": {
            "$firstN": {"input": "$k", "n": 2, "sortBy": {"k": 1}}}}}])
    with pytest.raises(ValueError, match="unknown argument"):
        aggregate(df, [{"$setWindowFields": {
            "sortBy": {"k": 1},
            "output": {"p": {"$shift": {"output": "$k", "by": 1,
                                        "fill": 0}}}}}])


def test_expr_timezone_utc_only(spark):
    """r12: an explicit non-UTC timezone argument on a date expression
    refuses loudly (expressions run in the session TZ — previously the
    argument was dropped and the answer silently shifted); the server
    default 'UTC' is accepted."""
    import datetime as dt
    df = spark.createDataFrame([(dt.datetime(2024, 3, 1, 12, 0),)],
                               "ts timestamp")
    got = aggregate(df, [{"$project": {
        "d": {"$dateTrunc": {"date": "$ts", "unit": "day",
                             "timezone": "UTC"}}}}]).collect()
    assert got[0].d == dt.datetime(2024, 3, 1)
    for expr in (
        {"$dateTrunc": {"date": "$ts", "unit": "day",
                        "timezone": "America/New_York"}},
        {"$dateAdd": {"startDate": "$ts", "unit": "day", "amount": 1,
                      "timezone": "+05:30"}},
        {"$dateToString": {"date": "$ts", "timezone": "Asia/Tokyo"}},
    ):
        with pytest.raises(ValueError, match="timezone"):
            aggregate(df, [{"$project": {"y": expr}}]).collect()
    # an explicit 'UTC' under a NON-UTC session is a request the engine
    # cannot honor — it must refuse, not silently truncate on local
    # boundaries (r12 review)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="session\\s*.?timezone"):
            aggregate(df, [{"$project": {"d": {"$dateTrunc": {
                "date": "$ts", "unit": "day", "timezone": "UTC"}}}}])
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


from mongo_hadoop_spark.plans.aggpipe import _EXPR_OPS  # noqa: E402

_KEYED_OPS = sorted(op for op, spec in _EXPR_OPS.items() if spec.keys)
_UTC_ONLY_OPS = sorted(op for op, spec in _EXPR_OPS.items() if spec.utc_only)


@pytest.mark.parametrize("op", _KEYED_OPS)
def test_keyed_expr_operand_refuses_unknown_key(spark, op):
    """Every operator with a dict-operand argument set in the table
    refuses a key outside it, even next to all of its valid keys."""
    df = spark.createDataFrame([(1,)], "k long")
    operand = {k: "$k" for k in _EXPR_OPS[op].keys}
    operand["notAnArgument"] = 1
    with pytest.raises(ValueError,
                       match=r"unknown argument\(s\) \['notAnArgument'\]"):
        aggregate(df, [{"$project": {"y": {op: operand}}}])


@pytest.mark.parametrize("op", _UTC_ONLY_OPS)
def test_utc_only_expr_refuses_other_timezones(spark, op):
    """Every UTC-only date operator refuses a non-UTC timezone, and an
    explicit 'UTC' under a non-UTC session."""
    df = spark.createDataFrame([(1,)], "k long")
    for tz in ("America/New_York", "+05:30", "Asia/Tokyo"):
        with pytest.raises(ValueError) as err:
            aggregate(df, [{"$project": {"y": {op: {"timezone": tz}}}}])
        assert f"timezone {tz!r} is unsupported" in str(err.value)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="session timezone"):
            aggregate(df, [{"$project": {"y": {op: {"timezone": "UTC"}}}}])
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


_INT_ARG_CASES = [
    ({"$firstN": {"input": "$xs", "n": "N"}}, "n"),
    ({"$lastN": {"input": "$xs", "n": "N"}}, "n"),
    ({"$minN": {"input": "$xs", "n": "N"}}, "n"),
    ({"$maxN": {"input": "$xs", "n": "N"}}, "n"),
    ({"$round": ["$v", "N"]}, "place"),
    ({"$trunc": ["$v", "N"]}, "places"),
    ({"$filter": {"input": "$xs", "cond": True, "limit": "N"}}, "limit"),
    ({"$range": [0, 5, "N"]}, "step"),
    ({"$slice": ["$xs", "N"]}, "count"),
    ({"$slice": ["$xs", "N", 1]}, "position"),
    ({"$indexOfArray": ["$xs", 1, "N"]}, "start"),
    ({"$indexOfArray": ["$xs", 1, 0, "N"]}, "end"),
    ({"$dateAdd": {"startDate": "$ts", "unit": "day", "amount": "N"}},
     "amount"),
    ({"$dateSubtract": {"startDate": "$ts", "unit": "day", "amount": "N"}},
     "amount"),
    ({"$dateTrunc": {"date": "$ts", "unit": "week", "binSize": "N"}},
     "binSize"),
]


def _with_arg(expr, value):
    if expr == "N":
        return value
    if isinstance(expr, dict):
        return {k: _with_arg(v, value) for k, v in expr.items()}
    if isinstance(expr, list):
        return [_with_arg(v, value) for v in expr]
    return expr


@pytest.mark.parametrize("bad", [2.7, True, "$k"])
@pytest.mark.parametrize("expr,arg", _INT_ARG_CASES,
                         ids=[f"{next(iter(e))}-{a}" for e, a in _INT_ARG_CASES])
def test_integer_literal_arguments(spark, expr, arg, bad):
    """One integer-literal check for every operator argument Spark needs
    as a constant: bools and non-integral floats refuse (``n: 2.7`` used
    to become 2, ``n: true`` 1), as do expressions; integral floats read
    as ints."""
    import datetime as dt
    df = spark.createDataFrame([(1, [3, 1, 2], 2.5, dt.datetime(2024, 3, 1))],
                               "k long, xs array<int>, v double, ts timestamp")
    with pytest.raises(ValueError, match=f"{arg} must be an integer literal"):
        aggregate(df, [{"$project": {"y": _with_arg(expr, bad)}}])
    ok = aggregate(df, [{"$project": {"y": _with_arg(expr, 1.0)}}])
    assert ok.collect() == aggregate(
        df, [{"$project": {"y": _with_arg(expr, 1)}}]).collect()


@pytest.mark.parametrize("bad", [2.7, True])
def test_integer_literal_accumulator_and_window_n(spark, bad):
    """The group and window forms of $firstN/$lastN/$minN/$maxN and
    $topN/$bottomN share the integer-literal check."""
    df = spark.createDataFrame([(1, 5), (1, 7), (2, 6)], "g long, k long")
    for op in ("$firstN", "$lastN", "$minN", "$maxN"):
        acc = {op: {"input": "$k", "n": bad}}
        with pytest.raises(ValueError, match="n must be an integer literal"):
            aggregate(df, [{"$group": {"_id": "$g", "v": acc}}])
        with pytest.raises(ValueError, match="n must be an integer literal"):
            aggregate(df, [{"$setWindowFields": {
                "sortBy": {"k": 1}, "output": {"v": acc}}}])
    for op in ("$topN", "$bottomN"):
        acc = {op: {"sortBy": {"k": 1}, "output": "$k", "n": bad}}
        with pytest.raises(ValueError, match="n must be an integer literal"):
            aggregate(df, [{"$group": {"_id": "$g", "v": acc}}])
    with pytest.raises(ValueError, match="N must be an integer literal"):
        aggregate(df, [{"$setWindowFields": {"sortBy": {"k": 1}, "output": {
            "v": {"$expMovingAvg": {"input": "$k", "N": bad}}}}}])
    got = aggregate(df, [
        {"$group": {"_id": "$g", "v": {"$minN": {"input": "$k", "n": 2.0}}}},
        {"$sort": {"_id": 1}}]).collect()
    assert [r.v for r in got] == [[5, 7], [6]]


def test_date_to_string_on_null(spark):
    """r12: $dateToString onNull is honored (previously silently
    dropped; the default null-in-null-out coincided)."""
    import datetime as dt
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 1)), (2, None)], "k long, ts timestamp")
    got = aggregate(df, [
        {"$project": {"k": 1, "s": {"$dateToString": {
            "date": "$ts", "format": "%Y-%m-%d", "onNull": "missing"}}}},
        {"$sort": {"k": 1}},
    ]).collect()
    assert [r.s for r in got] == ["2024-03-01", "missing"]


def test_fill_partition_by_fields(spark):
    """r12: $fill honors partitionByFields (previously silently ignored
    — locf leaked observations across partitions); partitionBy and
    partitionByFields together refuse."""
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, None), ("b", 1, None)],
        "g string, k long, v double")
    got = aggregate(df, [
        {"$fill": {"partitionByFields": ["g"], "sortBy": {"k": 1},
                   "output": {"v": {"method": "locf"}}}},
        {"$sort": {"g": 1, "k": 1}},
    ]).collect()
    # b's null must NOT inherit a's 1.0
    assert [(r.g, r.k, r.v) for r in got] == [
        ("a", 1, 1.0), ("a", 2, 1.0), ("b", 1, None)]
    with pytest.raises(ValueError, match="not both"):
        aggregate(df, [{"$fill": {
            "partitionBy": "$g", "partitionByFields": ["g"],
            "sortBy": {"k": 1}, "output": {"v": {"method": "locf"}}}}])


def test_out_merge_refuse_cross_db(spark, tmp_path):
    """r12: $out/$merge dict targets refuse a 'db' key loudly (the
    engine's database is fixed by store_path; previously ignored) and
    refuse unknown keys ('timeSeries' etc.)."""
    df = spark.createDataFrame([(1,)], "x long")
    sp = str(tmp_path / "store")
    for stage in ({"$out": {"db": "other", "coll": "t"}},
                  {"$merge": {"into": {"db": "other", "coll": "t"}}}):
        with pytest.raises(ValueError, match="target database"):
            aggregate(df, [stage], store_path=sp)
    with pytest.raises(ValueError, match="unknown argument"):
        aggregate(df, [{"$out": {"coll": "t", "timeSeries": {}}}],
                  store_path=sp)
    with pytest.raises(ValueError, match="unknown argument"):
        aggregate(df, [{"$merge": {"into": "t", "bypassDocumentValidation":
                                   True}}], store_path=sp)


def test_switch_empty_branches(spark):
    """r12 (advice): $switch with an empty branches list raises the
    server's ValueError instead of AttributeError on None."""
    df = spark.createDataFrame([(1,)], "x long")
    for operand in ({"branches": []}, {"branches": [], "default": 0}):
        with pytest.raises(ValueError, match="at least one branch"):
            aggregate(df, [{"$project": {"y": {"$switch": operand}}}])


def test_not_regex_options(spark):
    """r12 (advice): the find-language {$regex, $options} pair folds
    inside $not too, not only at the op-doc top level."""
    df = spark.createDataFrame([("Alpha",), ("beta",), (None,)],
                               "s string")
    got = aggregate(df, [{"$match": {
        "s": {"$not": {"$regex": "^al", "$options": "i"}}}}]).collect()
    # $not matches non-matches INCLUDING null (server three-valued rule)
    assert sorted(r.s for r in got if r.s is not None) == ["beta"]
    assert len(got) == 2


def test_match_type_null_alias(spark):
    """r11: {$type: "null"} (BSON code 10) matches null-valued fields
    (previously unexpressible — the isNotNull guard excluded them);
    mixed alias lists OR correctly."""
    df = spark.createDataFrame([(1, "a"), (2, None)], "id long, s string")
    got = aggregate(df, [{"$match": {"s": {"$type": "null"}}}]).collect()
    assert [r.id for r in got] == [2]
    got2 = aggregate(df, [{"$match": {"s": {"$type": ["string", 10]}}}],
                     ).collect()
    assert sorted(r.id for r in got2) == [1, 2]


def test_reduce_type_promotion(spark):
    """r12: $reduce's fold zero adopts the merge expression's result
    type (server typing is dynamic) — INT initialValue over a BIGINT
    array, a DOUBLE literal array, and a merge that promotes BEYOND the
    element type all analyze and fold correctly."""
    df = spark.createDataFrame([(1, [1, 2, 3]), (2, [])],
                               "k long, arr array<long>")
    got = aggregate(df, [
        {"$project": {"k": 1, "r": {"$reduce": {
            "input": "$arr", "initialValue": 0,
            "in": {"$add": ["$$value", "$$this"]}}}}},
        {"$sort": {"k": 1}}])
    assert rows(got) == [(1, 6), (2, 0)]
    got2 = aggregate(df, [
        {"$project": {"k": 1, "r": {"$reduce": {
            "input": [1.5, 2.5], "initialValue": 0,
            "in": {"$add": ["$$value", "$$this"]}}}}},
        {"$sort": {"k": 1}}])
    assert rows(got2) == [(1, 4.0), (2, 4.0)]
    # merge promotes beyond the element type (long elems, double step)
    got3 = aggregate(df, [
        {"$project": {"k": 1, "r": {"$reduce": {
            "input": "$arr", "initialValue": 0,
            "in": {"$add": ["$$value",
                            {"$multiply": ["$$this", 1.5]}]}}}}},
        {"$sort": {"k": 1}}])
    assert rows(got3) == [(1, 9.0), (2, 0.0)]
    # string fold unaffected
    got4 = aggregate(df, [
        {"$project": {"k": 1, "r": {"$reduce": {
            "input": ["a", "b"], "initialValue": "",
            "in": {"$concat": ["$$value", "$$this"]}}}}},
        {"$sort": {"k": 1}}])
    assert rows(got4) == [(1, "ab"), (2, "ab")]


def test_merge_objects_accumulator(spark):
    """r12: $mergeObjects as a $group accumulator — later documents
    overwrite earlier keys, null operands are ignored, all-null → {}."""
    df = spark.createDataFrame(
        [("g1", {"a": 1}), ("g1", {"b": 2}), ("g1", {"a": 3}),
         ("g2", None), ("g2", {"x": 9}), ("g3", None)],
        "g string, m map<string,long>").coalesce(1)
    got = aggregate(df, [
        {"$group": {"_id": "$g", "merged": {"$mergeObjects": "$m"}}},
        {"$sort": {"_id": 1}}])
    out = {r["_id"]: dict(r["merged"]) for r in got.collect()}
    assert out == {"g1": {"a": 3, "b": 2}, "g2": {"x": 9}, "g3": {}}


def test_merge_objects_accumulator_two_level_idiom(spark):
    """The order-independent two-level idiom (distinct keys per outer
    group): merge of single-key sparse docs reproduces the flat
    two-key group-by regardless of partitioning."""
    data = [(c, s, float(v)) for c, s, v in [
        (1, "A", 10), (1, "B", 20), (1, "A", 5),
        (2, "B", 7), (2, "C", 1)]]
    df = spark.createDataFrame(data, "c long, s string, v double") \
              .repartition(4)
    got = aggregate(df, [
        {"$group": {"_id": {"c": "$c", "s": "$s"}, "tot": {"$sum": "$v"}}},
        {"$project": {"c": "$_id.c",
                      "m": {"$arrayToObject": [[{"k": "$_id.s", "v": "$tot"}]]}}},
        {"$group": {"_id": "$c", "merged": {"$mergeObjects": "$m"}}},
        {"$sort": {"_id": 1}}])
    out = {r["_id"]: dict(r["merged"]) for r in got.collect()}
    assert out == {1: {"A": 15.0, "B": 20.0}, 2: {"B": 7.0, "C": 1.0}}


def test_sort_array_document_keys(spark):
    """r12: $sortArray accepts {field: 1|-1} document sort keys over
    struct arrays — multi-key with BSON null ordering (nulls first
    ascending, last descending)."""
    arr = [(2, "x"), (1, "z"), (2, "y"), (None, "w")]
    df = spark.createDataFrame([(arr,)],
                               "xs array<struct<a:int,b:string>>")
    got = aggregate(df, [{"$project": {"s": {"$sortArray": {
        "input": "$xs", "sortBy": {"a": 1, "b": -1}}}}}]).collect()
    assert [(e["a"], e["b"]) for e in got[0]["s"]] == [
        (None, "w"), (1, "z"), (2, "y"), (2, "x")]
    got2 = aggregate(df, [{"$project": {"s": {"$sortArray": {
        "input": "$xs", "sortBy": {"a": -1}}}}}]).collect()
    assert [e["a"] for e in got2[0]["s"]] == [2, 2, 1, None]
    with pytest.raises(ValueError, match="must be 1 or -1"):
        aggregate(df, [{"$project": {"s": {"$sortArray": {
            "input": "$xs", "sortBy": {"a": 2}}}}}])


def test_dotted_path_writes(spark):
    """r12: dotted keys in $addFields/$set/$project/$unset are NESTED
    writes (server semantics) — previously they compiled to a flat
    column literally named "a.b", the dangerous silent kind."""
    flat = spark.createDataFrame([(1, 5)], "k long, v long")
    df = spark.createDataFrame([((1, 2), 9)], "s struct<x:long,y:long>, v long")
    # create nested from nothing, then read it back through the path
    got = aggregate(flat, [{"$addFields": {"a.b": "$v"}},
                           {"$project": {"r": "$a.b"}}]).collect()
    assert got[0]["r"] == 5
    # write into an existing struct preserves siblings
    got = aggregate(df, [{"$addFields": {"s.z": "$v"}},
                         {"$project": {"r": "$s.z", "x": "$s.x"}}]).collect()
    assert (got[0]["r"], got[0]["x"]) == (9, 1)
    # overwrite one subfield, keep the other
    got = aggregate(df, [{"$set": {"s.x": 100}},
                         {"$project": {"x": "$s.x", "y": "$s.y"}}]).collect()
    assert (got[0]["x"], got[0]["y"]) == (100, 2)
    # deep creation of intermediates
    got = aggregate(flat, [{"$addFields": {"a.b.c.d": 7}},
                           {"$project": {"r": "$a.b.c.d"}}]).collect()
    assert got[0]["r"] == 7
    # descending through a non-document refuses loudly
    with pytest.raises(ValueError, match="not a document"):
        aggregate(flat, [{"$addFields": {"v.b": 1}}])


def test_dotted_path_project_and_unset(spark):
    df = spark.createDataFrame([((1, 2), 9)], "s struct<x:long,y:long>, v long")
    # inclusion assembles a nested document
    got = aggregate(df, [{"$project": {"s.x": 1, "v": 1}}]).collect()
    assert got[0].asDict(True) == {"s": {"x": 1}, "v": 9}
    # inclusion + computed under one root
    got = aggregate(df, [{"$project": {"s.x": 1, "s.z": "$v"}}]).collect()
    assert got[0].asDict(True) == {"s": {"x": 1, "z": 9}}
    # conflicting paths refuse (server rule)
    with pytest.raises(ValueError, match="conflicting paths"):
        aggregate(df, [{"$project": {"s": 1, "s.x": 1}}])
    # exclusion drops one nested field, keeps the rest
    got = aggregate(df, [{"$project": {"s.y": 0}}]).collect()
    assert got[0].asDict(True) == {"s": {"x": 1}, "v": 9}
    # $unset dotted; nonexistent leaf is a server-style no-op
    got = aggregate(df, [{"$unset": "s.y"}]).collect()
    assert got[0].asDict(True) == {"s": {"x": 1}, "v": 9}
    got = aggregate(df, [{"$unset": "s.zzz"}]).collect()
    assert got[0].asDict(True) == {"s": {"x": 1, "y": 2}, "v": 9}
    got = aggregate(df, [{"$unset": ["v", "s.x"]}]).collect()
    assert got[0].asDict(True) == {"s": {"y": 2}}


def test_dotted_output_names(spark):
    """r12: dotted OUTPUT names write nested in every stage that
    creates a field — $setWindowFields output, $lookup/$graphLookup
    "as", $unwind includeArrayIndex; $count refuses '.' (server rule)."""
    df = spark.createDataFrame([(1, 5), (2, 6)], "k long, v long")
    other = spark.createDataFrame([(5, "x")], "fk long, nm string")
    got = aggregate(df, [
        {"$setWindowFields": {"sortBy": {"k": 1}, "output": {
            "w.total": {"$sum": "$v",
                        "window": {"documents": ["unbounded",
                                                 "unbounded"]}}}}},
        {"$project": {"k": 1, "t": "$w.total"}}, {"$sort": {"k": 1}}])
    assert rows(got) == [(1, 11), (2, 11)]
    got = aggregate(df, [
        {"$lookup": {"from": "o", "localField": "v", "foreignField": "fk",
                     "as": "r.docs"}},
        {"$project": {"k": 1, "n": {"$size": "$r.docs"}}},
        {"$sort": {"k": 1}}], tables={"o": other})
    assert rows(got) == [(1, 1), (2, 0)]
    got = aggregate(df, [
        {"$graphLookup": {"from": "o", "startWith": "$v",
                          "connectFromField": "fk", "connectToField": "fk",
                          "as": "g.w", "maxDepth": 1}},
        {"$project": {"k": 1, "n": {"$size": "$g.w"}}},
        {"$sort": {"k": 1}}], tables={"o": other})
    assert rows(got) == [(1, 1), (2, 0)]
    got = aggregate(
        spark.createDataFrame([([1, 2],)], "arr array<long>"),
        [{"$unwind": {"path": "$arr", "includeArrayIndex": "i.x"}},
         {"$project": {"arr": 1, "ix": "$i.x"}}, {"$sort": {"ix": 1}}])
    assert rows(got) == [(1, 0), (2, 1)]
    with pytest.raises(ValueError, match="server rule"):
        aggregate(df, [{"$count": "a.b"}])
    with pytest.raises(ValueError, match="server rule"):
        aggregate(df, [{"$count": "$n"}])


def test_system_variables_root_current_remove(spark):
    """r12: $$ROOT/$$CURRENT (whole input document as one struct, per
    stage scope), $$REMOVE (compiles to null — missing ≡ null is the
    engine's columnar convention), $comment tolerated as a no-op."""
    df = spark.createDataFrame([(1, 5, "a"), (2, None, "b")],
                               "k long, v long, s string")
    got = aggregate(df, [{"$project": {"doc": "$$ROOT", "k": 1}},
                         {"$sort": {"k": 1}}]).collect()
    assert got[0]["doc"].asDict() == {"k": 1, "v": 5, "s": "a"}
    got = aggregate(df, [{"$project": {"x": "$$CURRENT.v"}},
                         {"$sort": {"x": 1}}]).collect()
    assert [r["x"] for r in got] == [None, 5]
    got = aggregate(df, [
        {"$project": {"k": 1, "v": {"$cond": [
            {"$eq": ["$s", "b"]}, "$$REMOVE", "$v"]}}},
        {"$sort": {"k": 1}}]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, 5), (2, None)]
    # identity replaceRoot and $push $$ROOT
    assert aggregate(df, [{"$replaceRoot": {"newRoot": "$$ROOT"}}]) \
        .columns == ["k", "v", "s"]
    got = aggregate(df, [
        {"$sort": {"k": 1}}, {"$limit": 1},
        {"$group": {"_id": None, "docs": {"$push": "$$ROOT"}}}]).collect()
    assert got[0]["docs"][0].asDict() == {"k": 1, "v": 5, "s": "a"}
    # $comment: annotation only, no filtering effect
    assert aggregate(df, [{"$match": {"k": {"$gt": 0},
                                      "$comment": "x"}}]).count() == 2
    # $$ROOT in a $lookup sub-pipeline scopes to the FOREIGN document
    other = spark.createDataFrame([(9,)], "z long")
    got = aggregate(df, [{"$lookup": {"from": "o", "pipeline": [
        {"$project": {"d": "$$ROOT"}}], "as": "c"}}],
        tables={"o": other}).collect()
    assert got[0]["c"][0]["d"].asDict() == {"z": 9}
    with pytest.raises(ValueError, match="unbound"):
        aggregate(df, [{"$project": {"x": "$$NOPE"}}])


def test_fill_dotted_output_and_densify_refusal(spark):
    """r12: $fill output on a dotted path fills the NESTED field in
    place (value + locf); $densify refuses dotted fields with a clear
    reason (generated axis rows have no parent document)."""
    df = spark.createDataFrame(
        [(1, (10.0, 1.0)), (2, (None, 2.0)), (3, (30.0, None))],
        "k long, s struct<v:double,u:double>")
    got = aggregate(df, [
        {"$fill": {"sortBy": {"k": 1}, "output": {
            "s.v": {"method": "locf"}, "s.u": {"value": -1.0}}}},
        {"$sort": {"k": 1}},
        {"$project": {"k": 1, "v": "$s.v", "u": "$s.u"}}])
    assert rows(got) == [(1, 10.0, 1.0), (2, 10.0, 2.0), (3, 30.0, -1.0)]
    with pytest.raises(ValueError, match="nested"):
        aggregate(df, [{"$densify": {
            "field": "s.v", "range": {"step": 1, "bounds": "full"}}}])


def test_r12_review_fixes(spark):
    """In-round review fixes (r12 second half): buried-$sort refusal
    and half-specified concise join in uncorrelated $lookup, deep
    non-document intermediate refusal, unset no-op on non-document
    roots, drop-all refusal, MAP-root dotted writes, $sortArray
    boolean direction."""
    df = spark.createDataFrame([(1, 5)], "k long, v long")
    items = spark.createDataFrame([(1, 2.0), (2, 1.0)], "ikey long, price double")
    t = {"items": items}
    # buried $sort (below a non-liftable $group) refuses loudly
    with pytest.raises(ValueError, match="array order"):
        aggregate(df, [{"$lookup": {"from": "items", "pipeline": [
            {"$sort": {"price": -1}},
            {"$group": {"_id": None, "n": {"$sum": 1}}}], "as": "x"}}],
            tables=t)
    # ...but trailing $sort + $project-inclusion lifts to array ops
    got = aggregate(df, [{"$lookup": {"from": "items", "pipeline": [
        {"$sort": {"price": -1}}, {"$project": {"price": 1}}],
        "as": "x"}}], tables=t).collect()
    assert [e["price"] for e in got[0]["x"]] == [2.0, 1.0]
    # half-specified concise join refuses
    with pytest.raises(ValueError, match="BOTH localField"):
        aggregate(df, [{"$lookup": {"from": "items",
                                    "foreignField": "ikey",
                                    "pipeline": [], "as": "x"}}], tables=t)
    # deep non-document intermediate refuses (was silent replace)
    sdf = spark.createDataFrame([((3,),)], "s struct<x:long>")
    with pytest.raises(ValueError, match="intermediate field 'x'"):
        aggregate(sdf, [{"$addFields": {"s.x.c": 1}}])
    # unset through a non-document root: server-style NO-OP
    got = aggregate(df, [{"$unset": "v.b"}]).collect()
    assert got[0].asDict() == {"k": 1, "v": 5}
    # unsetting the last field of a document refuses with the reason
    with pytest.raises(ValueError, match="empty document"):
        aggregate(sdf, [{"$unset": "s.x"}]).collect()
    # MAP-typed root: single-level write and unset work (later-wins)
    mdf = spark.createDataFrame([({"a": 1},)], "m map<string,long>")
    got = aggregate(mdf, [{"$set": {"m.b": 2}}, {"$set": {"m.a": 9}},
                          {"$unset": "m.b"}]).collect()
    assert dict(got[0]["m"]) == {"a": 9}
    with pytest.raises(ValueError, match="single-level"):
        aggregate(mdf, [{"$set": {"m.a.b": 1}}])
    # $sortArray boolean direction refuses
    adf = spark.createDataFrame([([],)], "xs array<struct<a:long>>")
    with pytest.raises(ValueError, match="1 or -1"):
        aggregate(adf, [{"$project": {"s": {"$sortArray": {
            "input": "$xs", "sortBy": {"a": True}}}}}])


def test_setfield_remove(spark):
    """r12: $setField value $$REMOVE removes the field (server), not
    writes a null."""
    df = spark.createDataFrame([((1, 2),)], "s struct<x:long,y:long>")
    got = aggregate(df, [{"$project": {"r": {"$setField": {
        "input": "$s", "field": "y", "value": "$$REMOVE"}}}}]).collect()
    assert got[0]["r"].asDict() == {"x": 1}
