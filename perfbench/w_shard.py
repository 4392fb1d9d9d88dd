"""shard_dedup_loop: the production curation loop, one shard per op.

Each op reads a JSONL shard, curates it, dedups the curated documents
against a keeper corpus through a persisted LSH band index
(``incremental_dedup(kept_bands=...)``), appends the shard's keepers to
the index (``extend_band_index``) and writes them out as JSONL, so the
next shard sees them.  A cycle is a fixed sequence of shards starting
from the seeded index; the index and keeper corpus are restored between
cycles (untimed), so every op's expected verdicts are known up front.

Shards are mutations of seeded documents drawn from a large Zipf
vocabulary: exact copies and few-word edits of keeper documents, of the
previous shard's documents and of earlier documents in the same shard,
plus fresh and junk documents.  Random text from a small vocabulary
would make almost every pair an LSH candidate."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np

import ref
from common import Workload

# (keeper corpus docs, docs per shard, shards per cycle)
SIZES = {"full": (400, 120, 2), "tiny": (100, 20, 2)}
QUALITY_MIN = 0.5
STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
VOCAB = 20_000


class Corpus:
    """Seeded document generator."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words = set()
        while len(words) < VOCAB:
            n = int(self.rng.integers(3, 10))
            words.add("".join(self.rng.choice(letters, n)))
        self.words = np.array(sorted(words) + STOP, dtype=object)
        ranks = np.arange(1, VOCAB + 1, dtype=float)
        p = 1.0 / (ranks + 2.7)
        p = 0.78 * p / p.sum()
        self.p = np.concatenate([p, np.full(len(STOP), 0.22 / len(STOP))])

    def doc(self) -> list:
        n = int(self.rng.integers(50, 110))
        return list(self.rng.choice(self.words, n, p=self.p))

    def mutate(self, toks: list) -> list:
        toks = list(toks)
        for i in self.rng.choice(len(toks), int(self.rng.integers(1, 3)),
                                 replace=False):
            toks[i] = self.rng.choice(self.words, p=self.p)
        return toks

    def junk(self) -> list:
        n = int(self.rng.integers(30, 60))
        return [f"{int(x)}#{int(y)}" for x, y in
                self.rng.integers(0, 10**6, (n, 2))]


def make_corpus(seed: int, n_kept: int, n_shard: int, n_shards: int):
    """(keeper docs, [shard docs…]); docs are (doc_id, text)."""
    c = Corpus(seed)
    kept = [(i, c.doc()) for i in range(n_kept)]
    shards, prev = [], kept
    for j in range(n_shards):
        base = 10_000_000 * (j + 1)
        docs = []
        for i in range(n_shard):
            u = c.rng.random()
            if u < 0.45 or not docs:
                toks = c.doc()
            elif u < 0.65:
                toks = c.mutate(kept[int(c.rng.integers(len(kept)))][1])
            elif u < 0.72:
                toks = list(kept[int(c.rng.integers(len(kept)))][1])
            elif u < 0.82:
                toks = c.mutate(docs[int(c.rng.integers(len(docs)))][1])
            elif u < 0.85:
                toks = list(docs[int(c.rng.integers(len(docs)))][1])
            elif u < 0.93:
                toks = c.mutate(prev[int(c.rng.integers(len(prev)))][1])
            else:
                toks = c.junk()
            docs.append((base + i, toks))
        shards.append(docs)
        prev = docs
    join = lambda ds: [(i, " ".join(t)) for i, t in ds]  # noqa: E731
    return join(kept), [join(s) for s in shards]


def write_jsonl(path: str, docs: list) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.json"), "w") as f:
        for i, t in docs:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class ShardDedupLoop(Workload):
    name = "shard_dedup_loop"

    def __init__(self, seed: int, scale: str, work: str):
        self.seed, self.work = seed, work
        self.n_kept, self.n_shard, self.n_shards = SIZES[scale]
        self.requests = [{"shard": j} for j in range(self.n_shards)]
        d = lambda *p: os.path.join(work, "corpus", *p)  # noqa: E731
        self.kept_root, self.idx = d("kept"), d("index")
        self.pristine = d("pristine")
        self.shard_dirs = [d("shards", f"s{j}") for j in range(self.n_shards)]

    def order(self, seed: int) -> list:
        return list(range(self.n_shards))  # shards build on each other

    def label(self, req: dict) -> str:
        return f"shard{req['shard']}"

    def rows(self, req: dict) -> int:
        return self.n_shard

    # -- set-up --
    def generate(self) -> None:
        self.kept_docs, self.shards = make_corpus(
            self.seed, self.n_kept, self.n_shard, self.n_shards)
        write_jsonl(os.path.join(self.kept_root, "base"), self.kept_docs)
        for path, docs in zip(self.shard_dirs, self.shards):
            write_jsonl(path, docs)
        self._ref = None

    def load(self, spark) -> None:
        from xarray_histogram_spark.operators import dedup as dd

        self.spark = spark
        kept = spark.read.json(os.path.join(self.kept_root, "base"),
                               schema="doc_id LONG, text STRING")
        dd.band_rows(kept, "text", "doc_id").write.parquet(self.idx)
        shutil.copytree(self.kept_root, os.path.join(self.pristine, "kept"))
        shutil.copytree(self.idx, os.path.join(self.pristine, "index"))

    def reset(self) -> None:
        for live, name in ((self.kept_root, "kept"), (self.idx, "index")):
            shutil.rmtree(live)
            shutil.copytree(os.path.join(self.pristine, name), live)

    # -- one op: read → curate → dedup vs index → extend index → write --
    def run(self, req: dict, tr):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        import xarray_histogram_spark as xhs
        from xarray_histogram_spark.operators import dedup as dd

        spark, j = self.spark, req["shard"]
        schema = T.StructType([T.StructField("doc_id", T.LongType()),
                               T.StructField("text", T.StringType())])
        C = "sources.corpus."
        raw = tr.call(C + "read_jsonl_corpus", "build", xhs.read_jsonl_corpus,
                      spark, self.shard_dirs[j], schema)
        docs = raw.where(F.col("_corrupt_record").isNull()).select(
            "doc_id", "text")
        cur = tr.call("operators.curate.curate_documents", "build",
                      xhs.curate_documents, docs, "text", "doc_id",
                      quality_min=QUALITY_MIN)
        tr.plan(cur)
        cur_rows = tr.call("operators.curate.collect", "exec", cur.collect)
        ids = [r["doc_id"] for r in cur_rows]
        new = docs.where(F.col("doc_id").isin(ids))
        kept = tr.call(C + "read_jsonl_corpus", "build", xhs.read_jsonl_corpus,
                       spark, os.path.join(self.kept_root, "*"), schema)
        kept = kept.select("doc_id", "text")
        v = tr.call("operators.dedup.incremental_dedup", "build",
                    dd.incremental_dedup, new, kept, "text", "doc_id",
                    kept_bands=spark.read.parquet(self.idx))
        tr.plan(v)
        v_rows = tr.call("operators.dedup.collect", "exec", v.collect)
        keep = [r["doc_id"] for r in v_rows if r["keep"]]
        verdicts = new.select("doc_id",
                              F.col("doc_id").isin(keep).alias("keep"))
        before = dir_bytes(self.idx) + dir_bytes(self.kept_root) \
            if tr.enabled else 0
        tr.call("operators.dedup.extend_band_index", "exec",
                dd.extend_band_index, new, verdicts, self.idx, "text",
                "doc_id")
        tr.call(C + "write_jsonl_corpus", "exec", xhs.write_jsonl_corpus,
                new.where(F.col("doc_id").isin(keep)),
                os.path.join(self.kept_root, f"s{j}"), "overwrite")
        if tr.enabled:
            written = dir_bytes(self.idx) + dir_bytes(self.kept_root) - before
            tr.note("sources.corpus.bytes_written_per_input_byte",
                    written / dir_bytes(self.shard_dirs[j]))
        return cur_rows, v_rows

    def canon(self, req: dict, out):
        cur_rows, v_rows = out
        return (sorted(tuple(r) for r in cur_rows),
                sorted(tuple(r) for r in v_rows))

    def expected(self, req: dict):
        if self._ref is None:
            # every shard's reference at once (each shard's keepers feed
            # the next), in a child process so that its memory is not
            # counted in the program's RSS
            root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), root, self.work,
                 self.kept_root, *self.shard_dirs],
                capture_output=True, text=True)
            if p.returncode != 0:
                raise RuntimeError(
                    f"shard reference failed:\n{p.stderr[-4000:]}")
            self._ref = [([tuple(r) for r in cur], [tuple(r) for r in ver])
                         for cur, ver in json.loads(p.stdout)]
        return self._ref[req["shard"]]

    def check(self, req: dict, got, exp) -> bool:
        return ref.close(list(got), list(exp))


def reference(work: str, kept_root: str, shard_dirs: list) -> list:
    """Expected (curated rows, verdict rows) per shard, from the program's
    DuckDB mirrors over the same JSONL, shard after shard against a keeper
    table grown by the expected verdicts."""
    from xarray_histogram_spark.operators import curate
    from xarray_histogram_spark.operators import dedup as dd

    con = duckdb.connect()
    out = []
    try:
        con.execute(f"SET temp_directory='{work}/duck'")
        con.execute("SET threads=2")
        con.execute(
            "CREATE TABLE kept AS SELECT doc_id, text FROM read_json("
            f"'{kept_root}/base/*.json', format='newline_delimited',"
            " columns={doc_id: 'BIGINT', text: 'VARCHAR'})")
        for path in shard_dirs:
            con.execute(
                "CREATE OR REPLACE TABLE shard AS SELECT doc_id, text "
                f"FROM read_json('{path}/*.json', "
                "format='newline_delimited', "
                "columns={doc_id: 'BIGINT', text: 'VARCHAR'})")
            cur = con.execute(curate.curate_documents_sql(
                "shard", "text", "doc_id", quality_min=QUALITY_MIN)
            ).fetchall()
            con.execute("CREATE OR REPLACE TABLE new AS SELECT * FROM "
                        "shard WHERE doc_id IN (SELECT unnest(?))",
                        [[r[0] for r in cur]])
            sql = dd.incremental_dedup_sql(
                "SELECT doc_id, text FROM new",
                "SELECT doc_id, text FROM kept", "text", "doc_id")
            ver = con.execute(sql).fetchall()
            con.execute("INSERT INTO kept SELECT doc_id, text FROM new "
                        "WHERE doc_id IN (SELECT unnest(?))",
                        [[r[0] for r in ver if r[4]]])
            out.append((sorted(cur), sorted(ver)))
    finally:
        con.close()
    return out


if __name__ == "__main__":
    # python3 w_shard.py <repo root> <work dir> <keeper dir> <shard dir>...
    sys.path.insert(0, sys.argv[1])
    print(json.dumps(reference(sys.argv[2], sys.argv[3], sys.argv[4:])))
