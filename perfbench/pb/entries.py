"""entries_sf0.01: cold passes over one registered ``queries()`` entry per
engine family, on the sf0.01 tables shipped in ``perfbench/data``.

Each entry is built with ``fn(spark, sf_dir)``, executed with a ``noop``
write and followed by ``clearCache()``. The seed permutes the entry order.
Outputs are checked against row counts and order-insensitive content
hashes recorded by ``record_entries.py`` from a run that matched the
DuckDB ``oracle_sql()`` of every entry.
"""

from __future__ import annotations

import hashlib
import json
import os

from pb import gen

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "entries_expected.json")
TABLES = ("documents", "embeddings", "events")  # all the entries below read

# entry -> family (one fast entry per family)
ENTRIES = {
    "dedup_exact": "dedup",
    "vocab_ngrams": "text",
    "knn_suite": "vector",
    "stream_session_windows": "streaming",
    "set_ops": "relational",
    "content_codecs": "io",
    "nested_set": "traverse",
}


def _canon(v):
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=False)
    if isinstance(v, dict):
        return [[str(k), _canon(x)] for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))]
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, float):
        return repr(v)
    return str(v) if v is not None else None


def content_hash(rows, columns) -> str:
    """Order-insensitive: the sum mod 2^64 of each row's md5 over its
    columns in name order."""
    cols = sorted(columns)
    acc = 0
    for r in rows:
        d = r.asDict(recursive=False)
        blob = json.dumps([_canon(d[c]) for c in cols]).encode()
        acc = (acc + int(hashlib.md5(blob).hexdigest()[:16], 16)) % (1 << 64)
    return f"{acc:016x}"


class Entries:
    def __init__(self, bench):
        self.b, self.seed = bench, bench.seed
        self.per_pass = dict.fromkeys(ENTRIES, 1)
        with open(EXPECTED) as fh:
            self.expected = json.load(fh)

    def _setup_rep(self, prev):
        from docarray_spark.sources.readers import read_table

        return sum(read_table(self.b.spark, SF_DIR, t).count() for t in TABLES)

    def prepare(self):
        pass  # the expected outputs are recorded in entries_expected.json

    def setup(self, reps: int = 1):
        import __spark_entry__

        self.fns = __spark_entry__.queries()
        missing = sorted(set(ENTRIES) - set(self.fns))
        if missing:
            raise RuntimeError(f"entries not registered: {missing}")
        self.b.setup(self._setup_rep, reps)

    def finish(self):
        pass

    def _entry(self, name: str):
        spark, fn = self.b.spark, self.fns[name]

        def body(ctx):
            df = ctx.build("entry", lambda: fn(spark, SF_DIR))
            ctx.run("entry", lambda: df.write.format("noop").mode("overwrite").save())
            return df

        def check(df):
            try:
                rows = df.collect()
                want = self.expected[name]
                got = {"rows": len(rows), "hash": content_hash(rows, df.columns)}
                return True if got == want else f"{name}: {got} != {want}"
            finally:
                spark.catalog.clearCache()

        def thunk():
            self.b.op(name, body, check, family=ENTRIES[name])
        return thunk

    def warmup_ops(self):
        return []  # a pass over the entries is cold by design

    def next_pass(self, i: int):
        return [self._entry(e) for e in gen.permutation(self.seed, 200 + i, list(ENTRIES))]

    def family_times(self) -> dict:
        """Per family: median build and run seconds of its entries' samples."""
        from pb.stats import median

        out = {}
        for fam in set(ENTRIES.values()):
            recs = [r for r in self.b.ops if r.ok and r.info.get("family") == fam]
            if recs:
                out[fam] = (median([r.build_s for r in recs]), median([r.run_s for r in recs]))
        return out

    def extra(self) -> dict:
        return {}
