#!/usr/bin/env python3
"""Independent output checker for the ODF engine benchmark.

Reads the generator's manifest, the runner's request log and the parquet files
the engine wrote, and checks them with DuckDB and parquet metadata only:

  * one file at each requested path, no staging directory left behind;
  * footer row count equals the response's offset interval (or numRecords);
  * offsets dense and in row order, starting at the request's next offset;
  * slices contiguous along each ledger, from the offsets stored in the files;
  * `op` propagated where the query selects it, 0 elsewhere;
  * `system_time` equals the request's value on every row;
  * columns ordered offset, op, system_time, event_time, ...;
  * event_time stored as TIMESTAMP(MILLIS, UTC); every column chunk snappy;
  * the returned watermark equals min-of-max over the inputs' watermarks;
  * each output's data rows equal DuckDB's evaluation of the same dataset over
    the request's inputs, root slices equal their raw batches row for row, and
    a whole-history re-derivation of A equals the union of A's slices;
  * curation: each query's rows equal its DuckDB oracle SQL.

Usage:
  python3 perfbench/check.py --input IN --out OUT            check a run
  python3 perfbench/check.py --input IN --out OUT --self-test
      also mutate one output at a time and require every mutation to fail
"""
import argparse
import collections
import glob
import json
import os
import shutil
import sys
from datetime import datetime, timezone

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SYSTEM = ["offset", "op", "system_time", "event_time"]

# DuckDB formulations of the engine's datasets, written independently of
# the engine's SQL dialect. `propagates_op` says whether op is a data column.
DUCK = {
    "a": ("SELECT op, event_time, user_id, kind, value, "
          "json_extract_string(props, '$.city') AS city, "
          "TRY_CAST(json_extract_string(props, '$.score') AS BIGINT) AS score "
          "FROM root WHERE value >= 0 AND kind <> 'noise'", True),
    "b": ("SELECT a.event_time, a.user_id, d.segment, d.region, a.value * d.weight AS weighted "
          "FROM a JOIN dim AS d ON a.user_id = d.user_id", False),
    "t1": ("SELECT op, event_time, CAST(seen_at AS TIMESTAMP) AS seen_at, user_id, kind, "
           "value * 2 + 1 AS v2, channel FROM root WHERE value > 25", True),
    "t2": ("SELECT op, event_time, user_id, json_extract_string(props, '$.city') AS city, "
           "TRY_CAST(json_extract_string(props, '$.score') AS BIGINT) AS score "
           "FROM root WHERE kind IN ('click', 'purchase')", True),
    "t3": ("SELECT r.event_time, r.user_id, d.segment, r.value * d.weight AS weighted "
           "FROM root AS r JOIN dim AS d ON r.user_id = d.user_id WHERE r.kind = 'view'", False),
}
DUCK["a_backfill"] = DUCK["a"]


def parse_ts(s):
    return datetime.fromisoformat(s.replace("Z", "+00:00"))


def epoch_ms(s):
    t = parse_ts(s)
    if t.tzinfo is None:
        t = t.replace(tzinfo=timezone.utc)
    return int(round(t.timestamp() * 1000))


def canon_value(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, list):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_value(x)) for k, x in v.items()))
    return v


def canon_column(col):
    """Timestamps of any unit/zone → epoch ms; everything else as Python."""
    if pa.types.is_timestamp(col.type):
        col = pc.cast(col, pa.timestamp("ms", col.type.tz), safe=False).cast(pa.int64())
    elif pa.types.is_date(col.type):
        col = col.cast(pa.int32())
    return [canon_value(v) for v in col.to_pylist()]


def rows_of(table, names):
    cols = [canon_column(table.column(n)) for n in names]
    return list(zip(*cols)) if cols else []


def multiset_diff(expected, actual):
    e, a = collections.Counter(expected), collections.Counter(actual)
    missing, extra = e - a, a - e
    if not missing and not extra:
        return None
    return (f"{sum(missing.values())} expected rows missing (e.g. {next(iter(missing), None)}), "
            f"{sum(extra.values())} unexpected rows (e.g. {next(iter(extra), None)})")


class Checker:
    def __init__(self, input_dir, out_dir):
        self.input = input_dir
        self.out = out_dir
        with open(os.path.join(input_dir, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.records = []
        path = os.path.join(out_dir, "requests.jsonl")
        if os.path.exists(path):
            with open(path) as f:
                self.records = [json.loads(line) for line in f if line.strip()]
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 4")
        self.fingerprints = {}

    # --- one output file -------------------------------------------------

    def file_props(self, r, problems):
        path = r["path"]
        if not os.path.isfile(path):
            problems.append(f"{path}: no file at the requested path")
            return None
        if os.path.exists(path + ".tmp-spark"):
            problems.append(f"{path}: staging directory left behind")
        pf = pq.ParquetFile(path)
        md = pf.metadata
        for i in range(md.num_row_groups):
            for j in range(md.num_columns):
                c = md.row_group(i).column(j)
                if c.compression != "SNAPPY":
                    problems.append(f"{path}: column {c.path_in_schema} is {c.compression}, not SNAPPY")
                    break
        names = pf.schema_arrow.names
        if "event_time" in names:
            lt = str(pf.schema.column(names.index("event_time")).logical_type)
            if "isAdjustedToUTC=true" not in lt or "milliseconds" not in lt:
                problems.append(f"{path}: event_time is {lt}, not TIMESTAMP(MILLIS, UTC)")
        else:
            problems.append(f"{path}: no event_time column")
        return pf

    def norm(self, relation, cols):
        """Projection of `cols` with every timestamp as epoch milliseconds."""
        types = dict(self.con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {relation})").fetchall())
        return ", ".join(f'epoch_ms("{c}") AS "{c}"' if types[c].startswith("TIMESTAMP") else f'"{c}"'
                         for c in cols)

    def fingerprint(self, relation, cols, cache_key=None):
        """Row count and an order-independent sum of row hashes."""
        if cache_key is not None and cache_key in self.fingerprints:
            return self.fingerprints[cache_key]
        names = ", ".join(f'"{c}"' for c in cols)
        fp = self.con.execute(f"SELECT count(*), sum(hash({names})::HUGEINT) "
                              f"FROM (SELECT {self.norm(relation, cols)} FROM {relation})").fetchone()
        if cache_key is not None:
            self.fingerprints[cache_key] = fp
        return fp

    def diff(self, left, right, cols, left_key=None):
        """Rows of `left` missing from `right` and the reverse (as bags).
        Equal fingerprints settle it in one scan per side; otherwise the
        bags are subtracted to say what differs."""
        if self.fingerprint(left, cols, left_key) == self.fingerprint(right, cols):
            return None
        lcols, rcols = self.norm(left, cols), self.norm(right, cols)
        out = []
        for a, ac, b, bc, what in ((left, lcols, right, rcols, "missing"), (right, rcols, left, lcols, "unexpected")):
            q = f"SELECT {ac} FROM {a} EXCEPT ALL SELECT {bc} FROM {b}"
            n = self.con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
            if n:
                out.append(f"{n} {what} rows, e.g. {self.con.execute(q + ' LIMIT 1').fetchone()}")
        return "; ".join(out) or "fingerprints differ"

    def view(self, name, path, extra=""):
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT *{extra} FROM read_parquet('{path}', "
                         f"file_row_number = true)")

    def check_transform(self, r, problems):
        pf = self.file_props(r, problems)
        if pf is None:
            return
        path = r["path"]
        n = pf.metadata.num_rows
        want = 0 if r["start"] is None else r["end"] - r["start"] + 1
        if n != want:
            problems.append(f"{path}: footer has {n} rows, response interval names {want}")
        if r["start"] is not None and r["start"] != r["next_offset"]:
            problems.append(f"{path}: interval starts at {r['start']}, request asked {r['next_offset']}")
        names = pf.schema_arrow.names
        if names[:4] != SYSTEM:
            problems.append(f"{path}: columns start {names[:4]}, expected {SYSTEM}")
            return
        self.view("output", path)
        bad, lo, hi, nonzero = self.con.execute(
            f"SELECT count(*) FILTER (WHERE \"offset\" <> {r['next_offset']} + file_row_number), "
            "min(epoch_ms(system_time)), max(epoch_ms(system_time)), count(*) FILTER (WHERE op <> 0) "
            "FROM output").fetchone()
        if bad:
            problems.append(f"{path}: {bad} offsets are not dense and ascending from {r['next_offset']}")
        st = epoch_ms(r["system_time"])
        if n and (lo, hi) != (st, st):
            problems.append(f"{path}: system_time spans {lo}..{hi}, request has {st}")
        # watermark: min over inputs of the max of each input's watermarks
        maxes = [max(epoch_ms(w[1]) for w in i["watermarks"]) for i in r["inputs"] if i["watermarks"]]
        want_wm = min(maxes) if maxes else None
        got_wm = epoch_ms(r["watermark"]) if r["watermark"] else None
        if got_wm != want_wm:
            problems.append(f"{path}: watermark {r['watermark']} differs from min-of-max {want_wm}")
        # data rows against DuckDB over the same inputs and intervals
        sql, propagates = DUCK[r["step"]]
        for i in r["inputs"]:
            files = ", ".join(f"'{p}'" for p in i["paths"])
            self.con.execute(
                f"CREATE OR REPLACE VIEW {i['alias']} AS SELECT * FROM "
                f"read_parquet([{files}], union_by_name = true) "
                f"WHERE \"offset\" BETWEEN {i['start']} AND {i['end']}")
        self.con.execute(f"CREATE OR REPLACE VIEW expected AS {sql}")
        exp_cols = [c for c, in self.con.execute("SELECT column_name FROM (DESCRIBE expected)").fetchall()]
        data = [c for c in exp_cols if c not in ("op", "event_time")]
        if names != SYSTEM + data:
            problems.append(f"{path}: columns {names}, expected {SYSTEM + data}")
            return
        if not propagates and nonzero:
            problems.append(f"{path}: op should be 0 (not propagated), {nonzero} rows differ")
        if pf.schema_arrow.field("op").type != pa.int32():
            problems.append(f"{path}: op is {pf.schema_arrow.field('op').type}, not int32")
        cols = (["op"] if propagates else []) + ["event_time"] + data
        key = json.dumps([r["step"], [(i["paths"], i["start"], i["end"]) for i in r["inputs"]]])
        d = self.diff("expected", "output", cols, left_key=key)
        if d:
            problems.append(f"{path}: data differs from DuckDB: {d}")

    def check_raw(self, r, problems):
        pf = self.file_props(r, problems)
        if pf is None:
            return
        path = r["path"]
        n = pf.metadata.num_rows
        if n != r["num_records"]:
            problems.append(f"{path}: footer has {n} rows, response says {r['num_records']}")
        files = ", ".join(f"'{p}'" for p in r["raw_inputs"])
        base = r["next_offset"]
        self.con.execute(
            f"CREATE OR REPLACE VIEW expected AS SELECT seq + {base} AS pos, CAST(seq + {base} AS BIGINT) "
            f"AS \"offset\", op, ts AS event_time, user_id, kind, value, props FROM read_parquet([{files}])")
        self.view("output", path, f", file_row_number + {base} AS pos")
        names = pf.schema_arrow.names
        cols = ["pos", "offset", "op", "event_time", "user_id", "kind", "value", "props"]
        if names[:4] != SYSTEM or set(names) != set(cols[1:]) | {"system_time"}:
            problems.append(f"{path}: columns {names}")
            return
        d = self.diff("expected", "output", cols)
        if d:
            problems.append(f"{path}: root slice differs from its raw batch (row order included): {d}")

    # --- whole run --------------------------------------------------------

    def check_ledger(self, name, rs):
        """Contiguity along one ledger, from the files alone: each slice's
        first stored offset follows the previous slice's last stored offset,
        and the ledger starts at 0."""
        problems = []
        expect = 0
        for r in rs:
            if not os.path.isfile(r["path"]):
                continue
            offs = pq.read_table(r["path"], columns=["offset"]).column("offset")
            if len(offs) == 0:
                continue
            first = offs[0].as_py()
            if first != expect:
                problems.append(f"ledger {name}: slice {r['path']} starts at offset {first}, "
                                f"the slices before it end at {expect - 1}")
            expect = offs[-1].as_py() + 1
        return problems

    def check_odf(self, only=None):
        problems = []
        ledgers = collections.defaultdict(list)
        for r in self.records:
            if not r["ok"] or (only is not None and r is not only):
                continue
            (self.check_raw if r["kind"] == "raw" else self.check_transform)(r, problems)
            ledgers[r["ledger"]].append(r)
        if only is not None:
            return problems
        for name, rs in ledgers.items():
            problems += self.check_ledger(name, rs)
        # incremental A slices together equal one re-derivation over all history
        for r in self.records:
            if r["step"] == "a_backfill" and r["ok"]:
                base = r["ledger"].rsplit("/", 1)[0]
                slices = ", ".join(f"'{x['path']}'" for x in ledgers.get(base + "/a", []))
                self.con.execute(f"CREATE OR REPLACE VIEW whole AS SELECT * FROM read_parquet('{r['path']}')")
                self.con.execute(f"CREATE OR REPLACE VIEW parts AS SELECT * FROM read_parquet([{slices}])")
                d = self.diff("whole", "parts", ["op", "event_time", "user_id", "kind", "value", "city", "score"])
                if d:
                    problems.append(f"{base}: A's slices differ from the whole-history A: {d}")
        return problems

    def curation_tables(self):
        d = self.manifest["data_dir"]
        for t in ("documents", "embeddings"):
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")

    def check_curation_query(self, q, sql):
        files = sorted(glob.glob(os.path.join(self.out, "curation", q, "*.parquet")))
        if not files:
            return [f"{q}: no output written"]
        actual = pq.read_table(files)
        expected = self.con.execute(sql).fetch_arrow_table()
        names = sorted(expected.column_names)
        if sorted(actual.column_names) != names:
            return [f"{q}: columns {sorted(actual.column_names)}, oracle has {names}"]
        a, e = rows_of(actual, names), rows_of(expected, names)
        if a != e:
            diff = multiset_diff(e, a) or "same rows in a different order"
            return [f"{q}: output differs from the DuckDB oracle ({len(a)} vs {len(e)} rows): {diff}"]
        return []

    def check_curation(self):
        with open(os.path.join(self.out, "oracle.json")) as f:
            oracle = json.load(f)
        self.curation_tables()
        problems = []
        for q, sql in sorted(oracle.items()):
            problems += self.check_curation_query(q, sql)
        return problems

    def check(self):
        if self.manifest["workload"] == "curation-batch":
            return self.check_curation()
        return self.check_odf()

    # --- self-test: every mutation must be caught -------------------------

    def self_test(self):
        """Returns a list of mutations the checker failed to catch."""
        if self.manifest["workload"] == "curation-batch":
            return self.self_test_curation()
        candidates = [r for r in self.records if r["ok"] and r["kind"] == "transform"
                      and r["start"] is not None and r["end"] - r["start"] >= 2]
        target = min(candidates, key=lambda r: r["end"] - r["start"], default=None)
        if target is None:
            return ["no transform output to mutate"]
        path = target["path"]
        backup = path + ".orig"
        shutil.copyfile(path, backup)
        original = pq.read_table(path)

        def rewrite(t):
            pq.write_table(t, path, compression="snappy")

        def set_col(t, name, values):
            i = t.column_names.index(name)
            return t.set_column(i, t.schema.field(i), pa.array(values, t.schema.field(i).type))

        offs = original.column("offset").to_pylist()
        st = original.column("system_time")
        mutations = {
            "duplicated offset": lambda t: set_col(t, "offset", [offs[0]] + offs[:-1]),
            "wrong system_time": lambda t: t.set_column(
                2, t.schema.field(2), pc.cast(pc.add(st.cast(pa.int64()), 1), pa.int64()).cast(st.type)),
            "dropped row": lambda t: t.slice(0, t.num_rows - 1),
            "changed value": lambda t: set_col(t, "user_id", [v + 1 if i == 0 else v for i, v in
                                                              enumerate(t.column("user_id").to_pylist())]),
            "swapped columns": lambda t: t.select(["offset", "system_time", "op"] + t.column_names[3:]),
            "gzip compression": None,
        }
        missed = []
        try:
            rewrite(original)
            if self.check_odf(only=target):
                missed.append("control: an unmutated rewrite already fails")
            for name, mutate in mutations.items():
                if mutate is None:
                    pq.write_table(original, path, compression="gzip")
                else:
                    rewrite(mutate(original))
                if not self.check_odf(only=target):
                    missed.append(name)
            # a gap between two slices, seen by the ledger check on its own
            rewrite(set_col(original, "offset", [o + 1 for o in offs]))
            ledger = [r for r in self.records if r["ok"] and r["ledger"] == target["ledger"]]
            if not self.check_ledger(target["ledger"], ledger):
                missed.append("gap between slices")
            shutil.copyfile(backup, path)
            saved = target["watermark"]
            target["watermark"] = "2001-01-01T00:00:00Z"
            if not self.check_odf(only=target):
                missed.append("wrong watermark")
            target["watermark"] = saved
        finally:
            shutil.move(backup, path)
        return missed

    def self_test_curation(self):
        with open(os.path.join(self.out, "oracle.json")) as f:
            oracle = json.load(f)
        self.curation_tables()
        q = sorted(oracle)[0]
        d = os.path.join(self.out, "curation", q)
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        saved = {f: open(f, "rb").read() for f in files}
        t = pq.read_table(files)
        missed = []
        try:
            for f in files:
                os.remove(f)
            pq.write_table(t, os.path.join(d, "part-mutated.parquet"))
            if self.check_curation_query(q, oracle[q]):
                missed.append("control: an unmutated rewrite already fails")
            pq.write_table(t.slice(0, max(0, t.num_rows - 1)), os.path.join(d, "part-mutated.parquet"))
            if not self.check_curation_query(q, oracle[q]):
                missed.append(f"{q}: dropped row")
        finally:
            os.remove(os.path.join(d, "part-mutated.parquet"))
            for f, b in saved.items():
                with open(f, "wb") as fh:
                    fh.write(b)
        return missed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    c = Checker(a.input, a.out)
    problems = c.check()
    for p in problems[:20]:
        print("FAIL", p)
    ok = not problems
    if a.self_test:
        missed = c.self_test()
        for m in missed:
            print("SELF-TEST MISSED", m)
        ok = ok and not missed
    print("ok" if ok else "failed")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
