"""Property-based test of the mutation merge-write path.

Hypothesis drives random programs of put/delete/increment batches
through the distributed merge (deletes → puts → increments per
execute, README.markdown:299) and cross-checks the final table state
against a plain in-memory dict model of the same semantics:

- put overlays only the cells it names (cell-level last-writer-wins);
  map-family puts overlay by key
- bare delete removes the row; .family() clears one family;
  .values() removes named qualifiers — both on the map family ``m``
  and on the typed family ``meta``
- increment adds to coalesce(stored, 0), creating the row if absent
- within one batch, a repeated cell in the same op kind overwrites
  (matching HBase Put/Increment familyMap semantics)

This fuzzes the distributed join/merge machinery the behavioral tests
only probe pointwise.  Every program runs on two layouts: an
unpartitioned table, and a ``partition_prefix_len=1`` table whose keys
fall into two prefixes, so the batches after the first take the
partial-rewrite path (read and rewrite the touched partitions only).
"""

import dataclasses

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from hpaste_spark.schema import HTable, Schema

# two key prefixes: the prefix-partitioned layout gets two partitions
KEYS = ["a1", "a2", "b1"]
QUALS = ["qa", "qb", "qc"]


class PropTable(HTable):
    def __init__(self, schema: Schema, partition_prefix_len: int | None = None):
        super().__init__(
            schema, "prop_table", key_type=str, partition_prefix_len=partition_prefix_len
        )
        meta = self.family("meta")
        self.title = self.column(meta, "title", str)
        self.views = self.column(meta, "views", "long")
        self.m = self.family_map("m", str, int)


put_op = st.fixed_dictionaries(
    {
        "kind": st.just("put"),
        "key": st.sampled_from(KEYS),
        "title": st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
        "views": st.one_of(st.none(), st.integers(-5, 5)),
        "m": st.dictionaries(st.sampled_from(QUALS), st.integers(-9, 9), max_size=3),
    }
)
delete_op = st.one_of(
    *(
        st.fixed_dictionaries(
            {
                "kind": st.just("delete"),
                "key": st.sampled_from(KEYS),
                "scope": st.sampled_from(["row", "family", "values"]),
                "fam": st.just(fam),
                "quals": st.sets(st.sampled_from(quals), min_size=1, max_size=2),
            }
        )
        for fam, quals in (("m", QUALS), ("meta", ["title", "views"]))
    )
)
increment_op = st.fixed_dictionaries(
    {
        "kind": st.just("increment"),
        "key": st.sampled_from(KEYS),
        "views": st.one_of(st.none(), st.integers(-3, 3)),
        "m": st.dictionaries(st.sampled_from(QUALS), st.integers(-4, 4), max_size=2),
    }
)
batch = st.lists(st.one_of(put_op, delete_op, increment_op), min_size=1, max_size=4)
program = st.lists(batch, min_size=1, max_size=3)


def apply_model(model: dict, ops: list[dict]) -> None:
    """The dict model: stage like OpBase, apply deletes→puts→increments."""
    staged_puts: dict = {}
    staged_incs: dict = {}
    del_rows: set = set()
    del_fams: dict = {}
    del_vals: dict = {}
    for op in ops:
        k = op["key"]
        if op["kind"] == "put":
            d = staged_puts.setdefault(k, {"cells": {}, "m": {}})
            if op["title"] is not None:
                d["cells"]["title"] = op["title"]
            if op["views"] is not None:
                d["cells"]["views"] = op["views"]
            d["m"].update(op["m"])
        elif op["kind"] == "delete":
            if op["scope"] == "row":
                del_rows.add(k)
            elif op["scope"] == "family":
                del_rows.discard(k)
                del_fams.setdefault(k, set()).add(op["fam"])
            else:
                del_rows.discard(k)
                del_vals.setdefault(k, {}).setdefault(op["fam"], set()).update(op["quals"])
        else:
            d = staged_incs.setdefault(k, {"cells": {}, "m": {}})
            if op["views"] is not None:
                d["cells"]["views"] = op["views"]  # overwrite, not add (HBase familyMap)
            d["m"].update(op["m"])

    for k in del_rows:
        model.pop(k, None)
    for k, fams in del_fams.items():
        if k in model:
            if "m" in fams:
                model[k]["m"] = {}
            if "meta" in fams:
                model[k].update(title=None, views=None)
    for k, fam_quals in del_vals.items():
        if k in model:
            for q in fam_quals.get("m", ()):
                model[k]["m"].pop(q, None)
            for q in fam_quals.get("meta", ()):
                model[k][q] = None
    for k, d in staged_puts.items():
        if not d["cells"] and not d["m"]:
            continue
        row = model.setdefault(k, {"title": None, "views": None, "m": {}})
        row.update({c: v for c, v in d["cells"].items()})
        row["m"].update(d["m"])
    for k, d in staged_incs.items():
        if not d["cells"] and not d["m"]:
            continue
        row = model.setdefault(k, {"title": None, "views": None, "m": {}})
        if "views" in d["cells"]:
            row["views"] = (row["views"] or 0) + d["cells"]["views"]
        for q, delta in d["m"].items():
            row["m"][q] = row["m"].get(q, 0) + delta


def run_engine(spark, tbl: PropTable, batches: list[list[dict]]) -> dict:
    for ops in batches:
        ob = None
        for op in ops:
            k = op["key"]
            if op["kind"] == "put":
                ob = (ob.put(k) if ob is not None else tbl.put(k))
                if op["title"] is not None:
                    ob = ob.value("title", op["title"])
                if op["views"] is not None:
                    ob = ob.value("views", op["views"])
                if op["m"]:
                    ob = ob.value_map("m", op["m"])
            elif op["kind"] == "delete":
                ob = (ob.delete(k) if ob is not None else tbl.delete(k))
                if op["scope"] == "family":
                    ob = ob.family(op["fam"])
                elif op["scope"] == "values":
                    ob = ob.values(op["fam"], op["quals"])
            else:
                ob = (ob.increment(k) if ob is not None else tbl.increment(k))
                if op["views"] is not None:
                    ob = ob.value("views", op["views"])
                if op["m"]:
                    ob = ob.value_map("m", op["m"])
        ob.execute(spark)

    out = {}
    for r in tbl.to_df(spark).collect():
        out[r["rowkey"]] = {
            "title": r["title"],
            "views": r["views"],
            "m": dict(r["m"] or {}),
        }
    return out


# pinned cases: inserts of absent keys in both prefixes; then, in one
# batch, a delete followed by a put of the same key and a put plus an
# increment of another key
PINNED = [
    [
        {"kind": "put", "key": "a1", "title": "a", "views": 1, "m": {"qa": 1}},
        {"kind": "increment", "key": "b1", "views": 2, "m": {"qb": 3}},
    ],
    [
        {"kind": "delete", "key": "a1", "scope": "row", "fam": "m", "quals": {"qa"}},
        {"kind": "put", "key": "a1", "title": "b", "views": None, "m": {}},
        {"kind": "put", "key": "b1", "title": "c", "views": 4, "m": {"qa": 2}},
        {"kind": "increment", "key": "b1", "views": 1, "m": {"qb": 1, "qc": 5}},
    ],
]


# pinned typed-family deletes: .family("meta") of one key and
# .values("meta", {"title"}) of another, next to map-family deletes
# of the same keys in the same batch
PINNED_TYPED = PINNED + [
    [
        {"kind": "delete", "key": "a1", "scope": "family", "fam": "meta", "quals": {"title"}},
        {"kind": "delete", "key": "a1", "scope": "values", "fam": "m", "quals": {"qa"}},
        {"kind": "delete", "key": "b1", "scope": "values", "fam": "meta", "quals": {"title"}},
        {"kind": "delete", "key": "b1", "scope": "family", "fam": "m", "quals": {"qb"}},
    ],
]


# pinned scoped deletes of a key holding a quote and a backslash (the
# deletes are rendered as SQL text): its map and typed cells are
# deleted, a neighbouring key's are not
QUOTED = "a'\\1"
PINNED_QUOTED = [
    [
        {"kind": "put", "key": QUOTED, "title": "a", "views": 1, "m": {"qa": 1, "qb": 2}},
        {"kind": "put", "key": "a1", "title": "b", "views": 2, "m": {"qa": 3}},
    ],
    [
        {"kind": "delete", "key": QUOTED, "scope": "values", "fam": "m", "quals": {"qa"}},
        {"kind": "delete", "key": QUOTED, "scope": "family", "fam": "meta", "quals": {"title"}},
        {"kind": "put", "key": "a1", "title": "c", "views": None, "m": {}},
    ],
]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@example(batches=PINNED)
@example(batches=PINNED_TYPED)
@example(batches=PINNED_QUOTED)
@given(batches=program)
def test_mutation_merge_matches_model(spark, tmp_path_factory, batches):
    model: dict = {}
    for ops in batches:
        apply_model(model, ops)

    # engine may keep a row whose cells were all deleted/none; normalize:
    # drop fully-empty rows on both sides
    def norm(d):
        return {
            k: v
            for k, v in d.items()
            if not (v["title"] is None and v["views"] is None and not v["m"])
        }

    for prefix_len in (None, 1):
        sch = Schema(base_dir=str(tmp_path_factory.mktemp("prop")))
        tbl = PropTable(sch, partition_prefix_len=prefix_len)
        sch.create_all(spark)
        got = run_engine(spark, tbl, batches)
        assert norm(got) == norm(model), f"partition_prefix_len={prefix_len}"
