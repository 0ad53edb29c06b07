"""GeoQuery / TaskList semantics (reference: geoquery.py, task.py tests)."""

import pytest

from geolake_spark.model import GeoQuery, GeoQueryError, TaskList


def test_parse_full_query():
    # mirrors /root/reference/datastore/geoquery/tests/test_geoquery.py:6-16
    q = GeoQuery.parse({
        "variable": ["foo", "bar"],
        "time": {"start": "2000-01-01", "stop": "2001-12-31"},
        "location": {"latitude": 10, "longitude": 25},
    })
    assert q.variable == ["foo", "bar"]
    assert q.location["latitude"] == 10


def test_area_location_mutually_exclusive():
    # test_geoquery.py:18-31
    with pytest.raises(GeoQueryError):
        GeoQuery.parse({
            "area": {"north": 1, "south": 0, "east": 1, "west": 0},
            "location": {"latitude": 10, "longitude": 25},
        })


def test_location_lists_must_pair_up():
    with pytest.raises(GeoQueryError, match="2 latitudes and 3 longitudes"):
        GeoQuery.parse({"location": {"latitude": [1, 2],
                                     "longitude": [1, 2, 3]}})
    with pytest.raises(GeoQueryError, match="1 latitudes and 2 longitudes"):
        GeoQuery.parse({"location": {"latitude": 1, "longitude": [1, 2]}})
    with pytest.raises(GeoQueryError, match="no probes"):
        GeoQuery.parse({"location": {"latitude": [], "longitude": []}})
    q = GeoQuery.parse({"location": {"latitude": [1, 2],
                                     "longitude": [3, 4]}})
    assert q.location["longitude"] == [3, 4]


def test_extras_fold_into_filters():
    # geoquery.py:31-38 / test_geoquery.py:34-54
    q = GeoQuery.parse({"variable": "tas", "resolution": "0.1", "version": "v1"})
    assert q.filters == {"resolution": "0.1", "version": "v1"}
    assert q.variable == ["tas"]  # scalar promoted to list


def test_explicit_filters_merge_with_extras():
    q = GeoQuery.parse({"filters": {"a": 1}, "b": 2})
    assert q.filters == {"a": 1, "b": 2}


def test_roundtrip_json():
    q = GeoQuery.parse({"variable": "v", "vertical": {"start": 0, "stop": 10}})
    q2 = GeoQuery.parse(q.to_json())
    assert q2.vertical == {"start": 0, "stop": 10}


def test_tasklist_unique_ids():
    with pytest.raises(GeoQueryError):
        TaskList.parse([{"id": "a", "op": "subset"}, {"id": "a", "op": "average"}])


def test_skew_report_hand_checked(spark):
    from geolake_spark import metrics
    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    got = [(r.k, r.n_rows, r.row_frac, r.skew_ratio)
           for r in metrics.skew_report(df, ["k"], top_k=2).collect()]
    # 10 rows / 3 keys: mean 10/3; a: 6 rows = 0.6 share, ratio 1.8
    assert got == [("a", 6, 0.6, 1.8), ("b", 3, 0.3, 0.9)]
