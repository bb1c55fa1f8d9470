"""The benchmark's workloads: seeded inputs, the expected results computed
once before timing, one op, and the per-op correctness check.

Each workload drives the package's public API exactly as a user would.
Inputs come only from ``fixtures.pages_batch`` with the run's seed, written
once (in this process) under the run's work directory.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import defaultdict
from itertools import combinations

import pyarrow as pa
import pyarrow.parquet as pq

from dataqualityassistant_spark.fixtures import pages_batch
from dataqualityassistant_spark.operators.engine import SuiteEngine
from dataqualityassistant_spark.ops import dedup
from dataqualityassistant_spark.oracle import oracle_expectation
from dataqualityassistant_spark.plans.quality_filter import (
    QualityFilterPipeline,
    default_webtext_rules,
)
from dataqualityassistant_spark.rules import Rule
from dataqualityassistant_spark.streaming.checkpoint import CheckpointStore
from dataqualityassistant_spark.webtext_oracle import oracle_score_pages


def write_parquet(pdf, path: str) -> None:
    """Spark 4.1 rejects pandas' nanosecond timestamps
    (PARQUET_TYPE_ILLEGAL INT64 TIMESTAMP(NANOS)), so write microseconds."""
    if "warc_ts" in pdf:
        pdf = pdf.assign(warc_ts=pdf["warc_ts"].astype("datetime64[us]"))
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n))
               for r, _, names in os.walk(path) for n in names)


class Workload:
    """An op reads either all input files or, with ``small``, only the
    first one: the slice that the cheap warm-up ops use."""

    name = ""
    docs = 0  # input docs one op processes

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)

    def prepare(self) -> None:
        """Write the inputs and compute the expected results (no Spark)."""
        raise NotImplementedError

    def op(self, spark, i: int, tracer, small: bool = False):
        raise NotImplementedError

    def check(self, result, i: int, counts: dict, small: bool = False) -> list[str]:
        """Problems found in op ``i``'s result; empty when it is correct.
        Sizes the check measures on the way go into ``counts``."""
        raise NotImplementedError

    def source(self, small: bool) -> str:
        return os.path.join(self.inputs, "part-00.parquet") if small else self.inputs

    def cleanup(self, i: int) -> None:
        pass

    def probes(self, spark, tracer) -> dict[str, float]:
        """Traced run only: timed calls into single layers."""
        return {}


class CrawlFilter(Workload):
    """``QualityFilterPipeline.run`` with metrics, lineage and checkpoint
    outputs over a multi-file pages table: the paper's keep/drop path."""

    name = "crawl_filter"
    docs = 3000
    files = 8
    buckets = 16
    waves = 2
    sample = 256

    def prepare(self) -> None:
        pages = pages_batch(0, self.docs, self.seed)
        per = self.docs // self.files
        for f in range(self.files):
            write_parquet(pages.iloc[f * per:(f + 1) * per],
                          os.path.join(self.inputs, f"part-{f:02d}.parquet"))
        picked = random.Random(self.seed).sample(range(self.docs), self.sample)
        want = oracle_score_pages(pages.iloc[sorted(picked)].reset_index(drop=True),
                                  default_webtext_rules())
        want = want.set_index("url")[["verdict", "scrubbed_text"]]
        first = want.index.isin(pages.url.iloc[:per])
        # (input rows, expected rows of the sampled urls), full and slice
        self.want = {False: (self.docs, want), True: (per, want[first])}
        self.pipe = QualityFilterPipeline(n_buckets=self.buckets)

    def _out(self, i: int) -> str:
        return os.path.join(self.work, "out", f"op{i}")

    def op(self, spark, i, tracer, small=False):
        out = self._out(i)
        pages = spark.read.parquet(self.source(small))
        with tracer.span("plans.pipeline"):
            return self.pipe.run(
                spark, pages, os.path.join(out, "data"),
                metrics_path=os.path.join(out, "metrics"),
                lineage_path=os.path.join(out, "lineage"),
                checkpoint_path=os.path.join(out, "checkpoint"),
                run_id=f"op{i}", waves=self.waves)

    def check(self, result, i, counts, small=False):
        out, bad = self._out(i), []
        n, want = self.want[small]
        counts["output_bytes"] = dir_bytes(os.path.join(out, "data"))
        if result["rows"] != n:
            bad.append(f"pipeline counted {result['rows']} rows, input has {n}")
        got = pq.read_table(os.path.join(out, "data"),
                            columns=["url", "verdict", "scrubbed_text"]).to_pandas()
        if len(got) != n:
            bad.append(f"output has {len(got)} rows, input has {n}")
        got = got.set_index("url").reindex(want.index)
        tp = int((got.verdict.fillna(False) & want.verdict).sum())
        fp = int((got.verdict.fillna(False) & ~want.verdict).sum())
        fn = int((~got.verdict.fillna(False) & want.verdict).sum())
        f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
        if f1 < 0.99:
            bad.append(f"verdict F1 {f1:.4f} < 0.99 on {len(want)} sampled urls")
        diff = [u for u, a, b in zip(want.index, got.scrubbed_text, want.scrubbed_text)
                if a != b and not (a is None and b is None)]
        if diff:
            bad.append(f"scrubbed_text differs on {len(diff)} sampled urls, e.g. {diff[0]}")
        lineage = pq.read_table(os.path.join(out, "lineage")).to_pandas()
        if int(lineage["rows"].sum()) != n:
            bad.append(f"lineage accounts for {int(lineage['rows'].sum())} of {n} rows")
        metrics = pq.read_table(os.path.join(out, "metrics")).to_pandas()
        counted = int(metrics.drop_duplicates("wave")["element_count"].sum())
        if counted != n:
            bad.append(f"metrics element_count sums to {counted}, not {n}")
        recs = CheckpointStore(os.path.join(out, "checkpoint")).records(f"op{i}")
        buckets = sorted(b for r in recs for b in r["buckets"])
        if sum(r["rows"] for r in recs) != n or buckets != list(range(self.buckets)):
            bad.append(f"checkpoint records cover {sum(r['rows'] for r in recs)} rows, "
                       f"buckets {buckets}")
        return bad

    def cleanup(self, i):
        shutil.rmtree(self._out(i), ignore_errors=True)

    def probes(self, spark, tracer):
        from pyspark.sql import functions as F

        from dataqualityassistant_spark.functions.scoring import with_text_scores
        from dataqualityassistant_spark.functions.scrub import scrub_text_column

        pages = spark.read.parquet(self.inputs)
        score = with_text_scores(pages.drop("html"))
        scrub = pages.select(scrub_text_column(F.col("text")).alias("s"))
        return {
            "functions.score_s": timed_noop(score, tracer, "functions.score"),
            "functions.scrub_s": timed_noop(scrub, tracer, "functions.scrub"),
        }


class NearDedup(Workload):
    """MinHash signatures, capped candidate pairs and cluster-survivor drop
    over the English-labelled shard of the pages: shuffle-heavy and skewed,
    since spam clusters fill whole LSH buckets."""

    name = "near_dedup"
    pages = 4000
    files = 4
    n_hashes = 128
    shingle = 9
    minhash_seed = 42
    bands = 16
    threshold = 0.8

    def prepare(self) -> None:
        pages = pages_batch(0, self.pages, self.seed)
        en = pages[pages.lang == "en"].reset_index(drop=True)
        en.insert(0, "doc_id", en.index.astype("int64"))
        shard = en[["doc_id", "url", "text"]]
        self.docs = len(shard)
        per = -(-self.docs // self.files)
        for f in range(self.files):
            write_parquet(shard.iloc[f * per:(f + 1) * per],
                          os.path.join(self.inputs, f"part-{f:02d}.parquet"))
        ids = list(shard.doc_id)
        sigs = dedup.minhash_signature_batch(list(shard.text), self.n_hashes, self.shingle,
                                             self.minhash_seed)
        # (pair set, survivor count), full and slice
        self.want = {}
        for small, n in ((False, self.docs), (True, per)):
            pairs = self.expected_pairs(ids[:n], sigs[:n])
            self.want[small] = pairs, n - len(losers(pairs))

    def expected_pairs(self, ids, sigs) -> set[tuple[int, int]]:
        """LSH banding with the default bucket cap and signature-agreement
        verify, recomputed in plain Python from signatures of the shared
        kernel."""
        rpb = self.n_hashes // self.bands
        buckets: dict[tuple, list[int]] = defaultdict(list)
        by_id = {}
        for i, s in zip(ids, sigs):
            if s is None:
                continue
            by_id[i] = s
            for b in range(self.bands):
                buckets[(b, tuple(s[b * rpb:(b + 1) * rpb]))].append(i)
        cand = set()
        for members in buckets.values():
            if 2 <= len(members) <= dedup.DEFAULT_MAX_BUCKET_SIZE:
                cand.update(combinations(sorted(members), 2))
        verified = set()
        for a, b in cand:
            agree = sum(x == y for x, y in zip(by_id[a], by_id[b]))
            if agree / self.n_hashes >= self.threshold:
                verified.add((a, b))
        return verified

    def op(self, spark, i, tracer, small=False):
        docs = spark.read.parquet(self.source(small))
        sigs = dedup.minhash_signatures(docs, n_hashes=self.n_hashes, shingle=self.shingle,
                                        seed=self.minhash_seed)
        with tracer.span("ops.pairs"):
            pairs = dedup.minhash_candidate_pairs(sigs, bands=self.bands,
                                                  threshold=self.threshold, materialize=True)
        with tracer.span("ops.cluster"):
            survivors = dedup.drop_near_duplicates(docs, pairs).count()
        return pairs, survivors

    def check(self, result, i, counts, small=False):
        pairs, survivors = result
        want_pairs, want_survivors = self.want[small]
        got = pairs.select("id_a", "id_b").toArrow()
        got = set(zip(got.column(0).to_pylist(), got.column(1).to_pylist()))
        counts["verified_pairs"] = len(got)
        bad = []
        if got != want_pairs:
            bad.append(f"pair set differs: {len(got - want_pairs)} extra, "
                       f"{len(want_pairs - got)} missing of {len(want_pairs)}")
        if survivors != want_survivors:
            bad.append(f"{survivors} survivors, expected {want_survivors}")
        return bad

    def probes(self, spark, tracer):
        docs = spark.read.parquet(self.inputs)
        sigs = dedup.minhash_signatures(docs, n_hashes=self.n_hashes, shingle=self.shingle,
                                        seed=self.minhash_seed)
        return {"ops.signature_s": timed_noop(sigs, tracer, "ops.signature")}


def losers(pairs) -> set[int]:
    """Ids that are not the minimum of their duplicate cluster (union-find
    over the pairs; a cluster's survivor is its smallest id)."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in list(parent) if find(x) != x}


def suite_rules() -> list[Rule]:
    """A declarative suite over the pages table; several expectations fail
    on the fixture mixture, so every op also runs the sample jobs."""
    def e(kind, **kwargs):
        return {"expectation_type": f"expect_column_values_to_{kind}", "kwargs": kwargs}

    return [
        Rule(id=1, name="identity", rule_config=[
            e("be_unique", column="url"),
            e("match_regex", column="url", regex=r"https://site\d\d\.example\.(com|org|net)/p/\d+"),
            e("not_be_null", column="warc_ts"),
        ]),
        Rule(id=2, name="content", rule_config=[
            e("not_be_null", column="text", mostly=0.99),
            e("be_between", column="n_chars", min_value=200, max_value=20000, mostly=0.8),
            e("match_regex", column="text", regex=r"[A-Z]", mostly=0.7),
        ]),
        Rule(id=3, name="language", rule_config=[
            e("be_in_set", column="lang", value_set=["en"], mostly=0.9),
            e("be_in_set", column="lang", value_set=["en", "de", "fr", "es"], mostly=0.95),
        ]),
    ]


class SuiteCheck(Workload):
    """``SuiteEngine(collect_samples=True).execute`` of a declarative suite
    over one single-file pages table: JVM-only, read-only, sub-second ops."""

    name = "suite_check"
    docs = 8000

    def prepare(self) -> None:
        pages = pages_batch(0, self.docs, self.seed)
        pages["n_chars"] = pages.text.str.len().astype("Int64")
        self.path = os.path.join(self.inputs, "pages.parquet")
        write_parquet(pages, self.path)
        self.rules = suite_rules()
        table = pq.read_table(self.path).to_pandas()
        self.want = [
            (x.expectation_type, oracle_expectation(table, x.expectation_type, x.kwargs))
            for r in self.rules for x in r.expectations
        ]

    def source(self, small):
        return self.path  # one file: the slice is the whole table

    def op(self, spark, i, tracer, small=False):
        df = spark.read.parquet(self.source(small))
        with tracer.span("operators.execute"):
            return SuiteEngine(collect_samples=True).execute(df, self.rules, table_name="pages")

    def check(self, result, i, counts, small=False):
        got = [x for r in result["results"] for x in r["results"]]
        bad = []
        for (kind, want), have in zip(self.want, got):
            res = have.get("result", {})
            same = (have.get("success") == want["success"]
                    and res.get("unexpected_count") == want["unexpected_count"]
                    and res.get("element_count") == want["element_count"])
            if not same:
                bad.append(f"{kind} on {have.get('kwargs', {}).get('column')}: got "
                           f"{have.get('success')}/{res.get('unexpected_count')}, oracle "
                           f"{want['success']}/{want['unexpected_count']}")
        if len(got) != len(self.want):
            bad.append(f"{len(got)} expectation results, suite has {len(self.want)}")
        return bad


def timed_noop(df, tracer, span: str) -> float:
    """Seconds to evaluate ``df`` into Spark's ``noop`` sink."""
    with tracer.span(span):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


WORKLOADS = {w.name: w for w in (CrawlFilter, NearDedup, SuiteCheck)}
