"""Structured-event compatibility: a `run` emits reference-named events with
the reference's stable codes (core/dbt/events/types.py) in dbt's published
structured-log JSON-line shape ({"data": ..., "info": {name, code, level,
msg, ts, invocation_id, pid, thread, ...}}), parseable by key."""

import json
import os

import pytest

from dbt_spark.events import EVENT_CODES, EventBus
from dbt_spark.runner import Engine

FILES = {
    "dbt_project.yml": "name: evproj\nmodel-paths: ['models']\nseed-paths: ['seeds']\n",
    "seeds/raw_items.csv": "id,val\n1,10\n2,20\n3,\n",
    "models/items.sql": "select id, val from {{ ref('raw_items') }}",
    "models/schema.yml": """
version: 2
models:
  - name: items
    columns:
      - name: id
        data_tests: [not_null, unique]
      - name: val
        data_tests:
          - not_null:
              config: {severity: warn}
""",
}


@pytest.fixture()
def log_lines(project_dir, spark):
    root = project_dir(FILES)
    eng = Engine(root, spark=spark)
    assert eng.invoke(["build"]).success
    path = os.path.join(root, "target", "logs", "dbt.log.jsonl")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def test_run_emits_reference_named_events(log_lines):
    names = [ln["info"]["name"] for ln in log_lines]
    # startup sequence (A001, W006, Q027)
    assert "MainReportVersion" in names
    assert "FoundStats" in names
    assert "ConcurrencyLine" in names
    # node lifecycle (Q024/Q030/Q031/Q025) for the model
    for expected in ("NodeStart", "NodeCompiling", "NodeExecuting",
                     "NodeFinished"):
        assert any(
            ln["info"]["name"] == expected
            and ln["data"].get("node_id") == "model.evproj.items"
            for ln in log_lines
        ), expected
    # per-resource result lines: Q012 for the model, Q016 seed, Q007 tests
    assert any(ln["info"]["name"] == "LogModelResult"
               and ln["data"]["node_id"] == "model.evproj.items"
               for ln in log_lines)
    assert any(ln["info"]["name"] == "LogSeedResult" for ln in log_lines)
    test_results = [ln for ln in log_lines
                    if ln["info"]["name"] == "LogTestResult"]
    assert len(test_results) == 3
    # the warn-severity not_null(val) test surfaces status=warn
    assert {ln["data"]["status"] for ln in test_results} == {"pass", "warn"}
    # end-of-run summary (Z023/Z030/Q039)
    stats = next(ln for ln in log_lines if ln["info"]["name"] == "StatsLine")
    assert stats["data"]["stats"]["warn"] == 1
    assert stats["data"]["stats"]["error"] == 0
    summary = next(ln for ln in log_lines
                   if ln["info"]["name"] == "EndOfRunSummary")
    assert summary["data"]["num_warnings"] == 1
    assert names[-1] == "CommandCompleted"


def test_event_codes_match_reference(log_lines):
    # every registered event carries its types.py code; spot-check pins
    for ln in log_lines:
        name, code = ln["info"]["name"], ln["info"]["code"]
        if name in EVENT_CODES:
            assert code == EVENT_CODES[name][0]
    pins = {"MainReportVersion": "A001", "LogTestResult": "Q007",
            "LogModelResult": "Q012", "NodeStart": "Q024",
            "NodeFinished": "Q025", "ConcurrencyLine": "Q027",
            "CommandCompleted": "Q039", "FoundStats": "W006",
            "StatsLine": "Z023", "EndOfRunSummary": "Z030"}
    for name, code in pins.items():
        assert EVENT_CODES[name][0] == code


def test_log_line_shape_matches_published_format(log_lines):
    for ln in log_lines:
        assert set(ln) == {"data", "info"}
        info = ln["info"]
        for key in ("category", "code", "extra", "invocation_id", "level",
                    "msg", "name", "pid", "thread", "ts"):
            assert key in info, key
        assert info["level"] in ("debug", "info", "warn", "error", "test")
    # one invocation_id across the whole run
    assert len({ln["info"]["invocation_id"] for ln in log_lines}) == 1


def test_protobuf_wire_roundtrip(project_dir, spark):
    """The identity fields dbt's CoreEventInfo carries on the wire
    (core/dbt/events/core_types.proto:9-20) round-trip through the JSON
    lines log: the engine's invocation_id and the reference event codes.
    The file log is JSON lines only, as in the reference: no protobuf
    mirror is written beside it."""
    root = project_dir({
        "dbt_project.yml": "name: pbw\n",
        "models/m1.sql": "select 1 as id",
    })
    eng = Engine(root, spark=spark)
    assert eng.invoke(["run"]).success
    log_dir = os.path.join(root, "target", "logs")
    jlines = [json.loads(l) for l in open(
        os.path.join(log_dir, "dbt.log.jsonl")) if l.strip()]
    assert {ln["info"]["invocation_id"] for ln in jlines} == {
        eng.events.invocation_id}
    by_name = {ln["info"]["name"]: ln["info"] for ln in jlines}
    mrv = by_name["MainReportVersion"]
    assert mrv["code"] == "A001" and mrv["invocation_id"] == eng.events.invocation_id
    assert by_name["NodeFinished"]["code"] == "Q025"
    assert not os.path.exists(os.path.join(log_dir, "dbt.log.pb"))


def test_bus_callbacks_and_levels(tmp_path):
    bus = EventBus(str(tmp_path / "logs" / "x.jsonl"))
    seen = []
    bus.callbacks.append(lambda ev: seen.append(ev))
    ev = bus.fire("NodeFinished", node_id="model.p.m")
    assert ev.level == "debug" and ev.code == "Q025"
    assert ev.msg == "Finished running node model.p.m"
    # explicit level overrides the registry default
    ev2 = bus.fire("NodeFinished", level="error", node_id="model.p.m")
    assert ev2.level == "error"
    # unregistered names still fire with empty code
    ev3 = bus.fire("AdHocThing", payload=1)
    assert ev3.code == ""
    assert len(seen) == 3


def test_failed_rotation_keeps_appending(tmp_path, monkeypatch):
    """--log-file-max-bytes rotation whose rename fails must not break
    fire: the bus keeps appending to the unrotated log, losing no line."""
    def refuse(src, dst):
        raise PermissionError(f"cannot rename {src}")

    monkeypatch.setattr(os, "replace", refuse)
    path = tmp_path / "logs" / "x.jsonl"
    bus = EventBus(str(path), max_bytes=200)  # every line overflows it
    ids = [f"model.p.m{i}" for i in range(5)]
    for node_id in ids:
        bus.fire("NodeStart", node_id=node_id)
    lines = [json.loads(ln) for ln in path.read_text().splitlines()]
    assert [ln["data"]["node_id"] for ln in lines] == ids
    assert not (tmp_path / "logs" / "x.jsonl.1").exists()


def test_nothing_to_do_event_on_empty_selection(project_dir, spark):
    root = project_dir(FILES)
    eng = Engine(root, spark=spark)
    assert eng.invoke(["run", "--select", "tag:no_such_tag"]).success
    path = os.path.join(root, "target", "logs", "dbt.log.jsonl")
    lines = [json.loads(l) for l in open(path) if l.strip()]
    ntd = [e for e in lines if e["info"]["name"] == "NothingToDo"]
    assert ntd and ntd[0]["info"]["code"] == "Q035"
    assert ntd[0]["info"]["level"] == "warn"


DEPRECATION_FILES = {
    "dbt_project.yml": "name: depproj\nmodel-paths: ['models']\n",
    "models/orders_v1.sql": "select 1 as id",
    "models/orders_v2.sql": "select 1 as id, 'x' as status",
    "models/consumer.sql": "select * from {{ ref('orders', v=1) }}",
    "models/schema.yml": """
version: 2
models:
  - name: orders
    latest_version: 2
    deprecation_date: "2020-01-01"
""",
}


def test_model_deprecation_events(project_dir, spark):
    """Past-deprecation models fire DeprecatedModel I065 and their model
    children DeprecatedReference I067 at parse (reference
    check_for_model_deprecations, core/dbt/parser/manifest.py:588-594)."""
    root = project_dir(DEPRECATION_FILES)
    eng = Engine(root, spark=spark)
    seen = []
    eng.events.callbacks.append(lambda ev: seen.append(ev))
    m = eng.parse()

    # first-class version fields (nodes.py:503,523)
    v1 = m.nodes["model.depproj.orders_v1"]
    v2 = m.nodes["model.depproj.orders_v2"]
    assert (v1.version, v1.latest_version) == (1, 2)
    assert not v1.is_latest_version and v2.is_latest_version
    assert v1.is_past_deprecation_date

    dep = [e for e in seen if e.name == "DeprecatedModel"]
    assert len(dep) == 2  # both versions are past the date
    assert dep[0].code == "I065" and dep[0].level == "warn"
    assert "has passed its deprecation date" in dep[0].msg
    refs = [e for e in seen if e.name == "DeprecatedReference"]
    assert refs and refs[0].code == "I067"
    assert refs[0].data["model_name"] == "consumer"
    assert refs[0].data["ref_model_name"] == "orders_v1"

    # manifest.json carries the fields
    man = json.loads(open(os.path.join(root, "target", "manifest.json")).read())
    entry = man["nodes"]["model.depproj.orders_v1"]
    assert entry["version"] == 1 and entry["latest_version"] == 2
    assert entry["deprecation_date"].startswith("2020-01-01")


def test_upcoming_deprecation_and_warn_error_interplay(project_dir, spark):
    """A future deprecation_date fires UpcomingReferenceDeprecation I066 on
    children only; --warn-error-options can promote/silence by name."""
    files = dict(DEPRECATION_FILES)
    files["models/schema.yml"] = """
version: 2
models:
  - name: orders
    latest_version: 2
    deprecation_date: "2999-01-01"
"""
    root = project_dir(files)
    eng = Engine(root, spark=spark)
    seen = []
    eng.events.callbacks.append(lambda ev: seen.append(ev))
    eng.parse()
    names = [e.name for e in seen]
    assert "UpcomingReferenceDeprecation" in names
    assert "DeprecatedModel" not in names  # not past the date yet

    # promotion by name fails the run at parse
    r = eng.invoke(["run", "--warn-error-options",
                    '{"error": ["UpcomingReferenceDeprecation"]}'])
    assert not r.success

    # silencing the name lets --warn-error pass and suppresses the event
    seen.clear()
    r2 = eng.invoke(["run", "--warn-error", "--warn-error-options",
                     '{"silence": ["UpcomingReferenceDeprecation"]}'])
    assert r2.success
    assert "UpcomingReferenceDeprecation" not in [e.name for e in seen]


def test_spark_job_description_tags_nodes(project_dir, spark):
    """Query-comment analog (reference core/dbt/context/query_header.py):
    while a node materializes, the worker thread's Spark job group/
    description carry '<unique_id> invocation_id=<id>' so the Spark UI
    attributes stages to the model; cleared once the node finishes."""
    root = project_dir({
        "dbt_project.yml": "name: jd\n",
        "models/m1.sql": "select 1 as id",
    })
    eng = Engine(root, spark=spark)
    during, after = {}, {}

    def cb(ev):
        prop = spark.sparkContext.getLocalProperty("spark.job.description")
        if ev.name == "NodeExecuting":
            during[ev.data["node_id"]] = prop
        elif ev.name == "NodeFinished":
            after[ev.data["node_id"]] = prop

    eng.events.callbacks.append(cb)
    assert eng.invoke(["run"]).success
    desc = during["model.jd.m1"]
    assert desc is not None and desc.startswith("model.jd.m1 invocation_id=")
    assert eng.events.invocation_id in desc
    assert after["model.jd.m1"] in (None, "")
