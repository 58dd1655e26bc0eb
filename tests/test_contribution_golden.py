"""Golden differential test of the contribution view.

The rows of ``contribution_view`` on two worlds are pinned in
``tests/fixtures/contribution_golden.json``; any change to the way the
view resolves events, members or geometry must reproduce them exactly.

* The relation world: every scene of ``osm_relations_fixtures.json`` and
  the ``history_polygon`` / ``history_not_mp`` scenes of
  ``osm_history.json`` (each scene's ids shifted apart), plus a few
  relations written here: a nested relation, dangling members and an
  old-style multipolygon with history.  Run with
  ``include_old_style_multipolygons`` off and on.
* The seed-42 docs world (120 features), with no AOI, a bbox and a polygon.

Re-record after an intended answer change with
``python -m tests.test_contribution_golden --record`` (from the repo root).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "fixtures", "contribution_golden.json")
COLS = ["type", "id", "ts", "version", "changeset", "contrib_uid",
        "contrib_types", "wkt", "prev_wkt", "clipped_wkt"]
T_END = 1 << 40

DOCS_T0, DOCS_T1 = 1262304000, 1262304000 + 11 * 365 * 86400
DOCS_BBOX = (8.45, 49.15, 8.70, 49.60)
DOCS_POLYGON = {
    "type": "Polygon",
    "coordinates": [[[8.40, 49.00], [8.95, 49.00], [8.40, 49.80],
                     [8.40, 49.00]]],
}

# ---------------------------------------------------------------------------
# the relation world
# ---------------------------------------------------------------------------

EXTRA_BASE = 900_000_000


def _extra_scene() -> dict:
    """Nested, dangling and old-style relations with member history."""
    b = EXTRA_BASE

    def node(i, v, ts, lon, lat, visible=True):
        return {"id": b + i, "version": v, "ts": ts, "visible": visible,
                "tags": {}, "lon": lon, "lat": lat}

    def way(i, v, ts, refs, tags=None, visible=True):
        return {"id": b + i, "version": v, "ts": ts, "visible": visible,
                "tags": tags or {}, "refs": [b + r for r in refs]}

    def rel(i, v, ts, members, tags, visible=True):
        return {"id": b + i, "version": v, "ts": ts, "visible": visible,
                "tags": tags,
                "members": [{"type": t, "ref": b + r, "role": ro}
                            for t, r, ro in members]}

    t0 = 1_300_000_000
    day = 86_400
    sq = [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 1.0, 1.0), (4, 0.0, 1.0)]
    hole = [(5, 0.4, 0.4), (6, 0.6, 0.4), (7, 0.6, 0.6), (8, 0.4, 0.6)]
    nodes = [node(i, 1, t0, x, y) for i, x, y in sq + hole]
    nodes += [
        node(5, 2, t0 + 10 * day, 0.35, 0.4),       # hole corner moves
        node(9, 1, t0, 2.0, 2.0),
        node(9, 2, t0 + 20 * day, 2.0, 2.0, visible=False),  # deleted
        node(10, 1, t0 + 30 * day, 3.0, 3.0),       # born late
    ]
    ways = [
        way(20, 1, t0, [1, 2, 3, 4, 1], {"building": "yes"}),
        way(20, 2, t0 + 15 * day, [1, 2, 3, 4, 1], {"building": "house"}),
        way(21, 1, t0, [5, 6, 7, 8, 5]),
        way(22, 1, t0 + 5 * day, [9, 10]),          # ref born after the way
        way(22, 2, t0 + 25 * day, [9, 10], visible=False),
    ]
    mp = {"type": "multipolygon"}
    rels = [
        # old-style: only type=multipolygon, the outer way carries the tags
        rel(30, 1, t0 + 1 * day, [("way", 20, "outer"), ("way", 21, "inner")],
            mp),
        # dangling: members that never exist, and one born after the relation
        rel(31, 1, t0 + 2 * day, [("way", 99, "outer"), ("node", 98, ""),
                                  ("relation", 97, ""), ("way", 22, ""),
                                  ("node", 10, "")], {"type": "route"}),
        # nested: a super-relation over the old-style one and a node
        rel(32, 1, t0 + 3 * day, [("relation", 30, ""), ("node", 9, "")],
            {"type": "site"}),
        rel(32, 2, t0 + 40 * day, [("relation", 30, ""), ("node", 9, ""),
                                   ("way", 22, "")], {"type": "site"}),
        # a relation with no members, then deleted
        rel(33, 1, t0 + 4 * day, [], {"type": "collection"}),
        rel(33, 2, t0 + 50 * day, [], {"type": "collection"}, visible=False),
    ]
    return {"nodes": nodes, "ways": ways, "relations": rels}


def _scenes() -> list[dict]:
    from oshdb_spark.timestamps import parse_iso

    with open(os.path.join(HERE, "fixtures", "osm_relations_fixtures.json")) as f:
        fixtures = json.load(f)
    with open(os.path.join(HERE, "fixtures", "osm_history.json")) as f:
        history = json.load(f)
    scenes = [fixtures[k] for k in sorted(fixtures)]
    scenes += [history["history_polygon"], history["history_not_mp"]]
    out = []
    for k, s in enumerate(scenes):
        off = (k + 1) * 10_000_000

        def shift(e, off=off):
            e = dict(e)
            e["id"] += off
            if isinstance(e["ts"], str):
                e["ts"] = parse_iso(e["ts"]) // 1_000_000
            e.setdefault("changeset", e["id"] * 10 + e["version"])
            e.setdefault("uid", e["id"] % 7)
            if "refs" in e:
                e["refs"] = [r + off for r in e["refs"]]
            if "members" in e:
                e["members"] = [dict(m, ref=m["ref"] + off)
                                for m in e["members"]]
            return e

        out.append({g: [shift(e) for e in s[g]]
                    for g in ("nodes", "ways", "relations")})
    extra = _extra_scene()
    for g in extra.values():
        for e in g:
            e["changeset"] = e["id"] * 10 + e["version"]
            e["uid"] = e["version"]
    out.append(extra)
    return out


def relation_world(spark):
    """(entities, interpreter) of the relation world."""
    from oshdb_spark.filters.dsl import TagTranslator
    from oshdb_spark.geometry.polygon_features import osm_tag_interpreter
    from oshdb_spark.session import local_frame

    from tests.osmhistory_harness import ENT_SCHEMA

    scenes = _scenes()
    keys: dict[str, int] = {}
    values: dict[tuple[str, str], int] = {}
    for s in scenes:
        for g in s.values():
            for e in g:
                for k, v in sorted(e["tags"].items()):
                    keys.setdefault(k, len(keys) + 1)
                    values.setdefault(
                        (k, v), 1 + sum(1 for kk, _ in values if kk == k))
    tr = TagTranslator(keys=keys, values=values)

    def tags(e):
        return {keys[k]: values[(k, v)] for k, v in e["tags"].items()}

    rows = []
    for s in scenes:
        for e in s["nodes"]:
            rows.append((
                f"n{e['id']}v{e['version']}", e["id"], "node", e["version"],
                e["visible"], e["ts"], e["changeset"], e["uid"], tags(e),
                int(round(e["lon"] * 1e7)) if e.get("lon") is not None else 0,
                int(round(e["lat"] * 1e7)) if e.get("lat") is not None else 0,
                None, None,
            ))
        for e in s["ways"]:
            rows.append((
                f"w{e['id']}v{e['version']}", e["id"], "way", e["version"],
                e["visible"], e["ts"], e["changeset"], e["uid"], tags(e),
                None, None, e["refs"], None,
            ))
        for e in s["relations"]:
            rows.append((
                f"r{e['id']}v{e['version']}", e["id"], "relation",
                e["version"], e["visible"], e["ts"], e["changeset"], e["uid"],
                tags(e), None, None, None,
                [(m["type"], m["ref"], m["role"]) for m in e["members"]],
            ))
    return local_frame(spark, rows, ENT_SCHEMA), osm_tag_interpreter(tr)


# ---------------------------------------------------------------------------
# cases
# ---------------------------------------------------------------------------

CASES = ["relations", "relations-old-style", "docs", "docs-bbox",
         "docs-polygon"]


def case_frame(spark, case: str, docs_path: str):
    from oshdb_spark.geometry.taginterpreter import default_tag_interpreter
    from oshdb_spark.operators.contribution import contribution_view
    from oshdb_spark.sources.entities import extract_entities

    if case.startswith("relations"):
        ents, ti = relation_world(spark)
        return contribution_view(
            ents, 0, T_END, interpreter=ti,
            include_old_style_multipolygons=case == "relations-old-style",
        )
    ents = extract_entities(spark.read.parquet(docs_path))
    aoi = {"docs": {}, "docs-bbox": {"bbox_deg": DOCS_BBOX},
           "docs-polygon": {"polygon": DOCS_POLYGON}}[case]
    return contribution_view(
        ents, DOCS_T0, DOCS_T1, interpreter=default_tag_interpreter(), **aoi
    )


def case_rows(df) -> list[list]:
    cols = [c for c in COLS if c in df.columns]
    rows = [[r[c] if c != "contrib_types" else list(r[c]) for c in cols]
            for r in df.select(*cols).collect()]
    return sorted(rows, key=lambda r: json.dumps(r))


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


def _shared_changesets() -> dict[tuple[int, int], list[int]]:
    """(ts, changeset) -> the users of the relation world's versions at
    that timestamp in that changeset, where there are several.  A member
    event there may be attributed to any of them (the OSM data model has
    one user per changeset; the history fixtures do not)."""
    users: dict[tuple[int, int], set[int]] = {}
    for s in _scenes():
        for g in s.values():
            for e in g:
                users.setdefault((e["ts"], e["changeset"]), set()).add(e["uid"])
    return {k: sorted(v) for k, v in users.items() if len(v) > 1}


def _with_shared_uids(rows, shared):
    ts, cs, uid = (COLS.index(c) for c in ("ts", "changeset", "contrib_uid"))
    out = []
    for r in rows:
        r = list(r)
        r[uid] = shared.get((r[ts], r[cs]), r[uid])
        out.append(r)
    return out


@pytest.mark.parametrize("case", CASES)
def test_contribution_rows_match_golden(spark, docs_parquet, golden, case):
    got = case_rows(case_frame(spark, case, docs_parquet[0]))
    want = golden[case]
    if case.startswith("relations"):
        shared = _shared_changesets()
        got, want = _with_shared_uids(got, shared), _with_shared_uids(want, shared)
    assert len(got) == len(want)
    missing = [r for r in want if r not in got]
    extra = [r for r in got if r not in want]
    assert not missing and not extra, (missing[:3], extra[:3])


def test_simultaneous_member_edits_attribute_deterministically(spark):
    """Two users edit two nodes of a way in one changeset at one
    timestamp: the member with the larger id attributes the event, in
    both history scenes that hold these same edits."""
    rows = (
        case_frame(spark, "relations", None)
        .filter("type = 'way' AND id % 10000000 = 125")
        .select("id", "ts", "changeset", "contrib_uid")
        .collect()
    )
    by_scene: dict[int, dict] = {}
    for r in rows:
        by_scene.setdefault(r["id"] // 10_000_000, {})[r["ts"]] = (
            r["changeset"], r["contrib_uid"])
    polygon, not_mp = by_scene[6], by_scene[7]  # the two history scenes
    assert polygon == not_mp
    # node 70 (uid 2) beats node 65 (uid 1)
    assert polygon[1230771661] == (69, 2)


def _record() -> None:
    import tempfile

    from oshdb_spark.session import get_spark
    from oshdb_spark.sources.docs import write_docs_parquet

    spark = get_spark(app_name="golden", master="local[2]",
                      shuffle_partitions=4)
    path = os.path.join(tempfile.mkdtemp(), "docs.parquet")
    write_docs_parquet(path, n_features=120, seed=42)
    out = {case: case_rows(case_frame(spark, case, path)) for case in CASES}
    with open(GOLDEN, "w") as f:
        json.dump(out, f, separators=(",", ":"))
        f.write("\n")
    print({k: len(v) for k, v in out.items()})


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit("usage: python -m tests.test_contribution_golden --record")
    _record()
