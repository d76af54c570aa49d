"""The benchmark workloads and their parts.

Each workload is a closed loop with one caller: a pass issues its calls
one after another and waits for each result before the next. A pass
returns what the output checks need; the checks run outside the timed
region. Layer names are the program's module paths.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random

import duckdb
from pyspark.sql import functions as F

import gen
from harness import Recorder, tree_bytes_files
import udacity_data_engineering_capstone_project_spark as program
from udacity_data_engineering_capstone_project_spark.operators import (
    dedup, fuzzy, graph, packing, quality, sampling, similarity, textstats,
)
from udacity_data_engineering_capstone_project_spark.operators.relational import maybe_broadcast
from udacity_data_engineering_capstone_project_spark.plans import capstone, queries
from udacity_data_engineering_capstone_project_spark.sources import readers, sinks, warc


def _collect(df):
    return df.collect()


def _decimals(values) -> int:
    """Decimal places of the finest float among ``values`` (the oracle's
    side), so a column rounded to k places compares at that precision."""
    d = 0
    for v in values:
        if isinstance(v, float) and math.isfinite(v):
            r = repr(v)
            d = max(d, 17 if "e" in r else len(r.split(".")[1]))
    return d


def _close(a, b, abs_tol: float) -> bool:
    """Equal, floats within ``abs_tol`` (or a relative 1e-9)."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=abs_tol)
    return a == b


def _same_rows(got: list[dict], want: list[dict]) -> str | None:
    """None when both row lists hold the same multiset, else a reason.

    Both sides round float aggregates to k places but sum in different
    orders, so a float column may differ by one unit of its last place:
    its tolerance is 1.1 * 10**-k, with k read off the oracle's values.
    """
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if got and sorted(got[0]) != sorted(want[0]):
        return f"columns {sorted(got[0])} != {sorted(want[0])}"
    tol = {c: 1.1 * 10.0 ** -_decimals(w[c] for w in want) for c in (want[0] if want else ())}

    def key(row):
        return tuple((v is None, str(type(v).__name__), v if v is not None else 0) for _, v in sorted(row.items()))

    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if not all(_close(g[c], w[c], tol[c]) for c in g):
            return f"row {g} != {w}"
    return None


def _duck_rows(con, sql: str) -> list[dict]:
    rel = con.sql(sql)
    cols = rel.columns
    return [dict(zip(cols, r)) for r in rel.fetchall()]


class Workload:
    name = ""
    #: input size for a full run and for the smoke tests
    size: float = 0
    tiny_size: float = 0

    def __init__(self, work_dir: str, seed: int, tiny: bool = False):
        self.seed = seed
        self.size = self.tiny_size if tiny else self.size
        self.in_dir = os.path.join(work_dir, f"{self.name}-in-{seed}-{self.size}")
        self.out_dir = os.path.join(work_dir, f"{self.name}-out")

    def generate(self) -> dict:
        raise NotImplementedError

    def run_pass(self, spark, rec: Recorder):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        """Failed operations of one pass, as one message each."""
        raise NotImplementedError

    def ops_per_pass(self) -> int:
        return 1

    def dirs(self) -> list[str]:
        """Directories the run removes when it ends."""
        return [self.in_dir, self.out_dir]


class CapstoneEtl(Workload):
    """The reference ETL: staging -> star schema -> Parquet -> checks."""

    name = "capstone_etl"
    size = 25_000
    tiny_size = 3_000

    def generate(self) -> dict:
        return gen.capstone_staging(self.in_dir, self.seed, int(self.size))

    def run_pass(self, spark, rec: Recorder):
        stg, out = self.in_dir, self.out_dir
        rd = "sources.readers"
        imm_raw, _ = rec.call(rd, "read_parquet", lambda: readers.read_parquet(spark, f"{stg}/i94_parquet"))
        temp_raw, _ = rec.call(rd, "read_csv", lambda: readers.read_csv(spark, f"{stg}/temperature.csv"))
        air_raw, _ = rec.call(rd, "read_csv", lambda: readers.read_csv(spark, f"{stg}/airport_codes.csv"))

        pc = "plans.capstone"
        imm, _ = rec.call(pc, "clean_immigration", lambda: capstone.clean_immigration(imm_raw))
        temp, _ = rec.call(pc, "clean_temperature", lambda: capstone.clean_temperature(temp_raw))
        air, _ = rec.call(pc, "clean_airport_codes", lambda: capstone.clean_airport_codes(air_raw))
        state_temp, _ = rec.call(pc, "build_state_temperature", lambda: capstone.build_state_temperature(temp, air))
        tables, _ = rec.call(pc, "build_star_schema", lambda: capstone.build_star_schema(imm, state_temp))

        for name, df in tables.items():
            part = ["month"] if name == "fact_temp" else None
            rec.call("sources.sinks", "write_parquet", lambda: sinks.write_parquet(df, f"{out}/{name}", partition_by=part))

        def quality():
            n = imm.count()
            capstone.run_quality_checks(
                tables,
                expected_counts={"fact_imm": n, "dim_person": n},
                expected_distinct_states=tables["dim_state"].count(),
            )

        rec.call("operators.quality", "run_quality_checks", quality)

        fact_imm, _ = rec.call(rd, "read_parquet", lambda: readers.read_parquet(spark, f"{out}/fact_imm"))
        fact_temp, _ = rec.call(rd, "read_parquet", lambda: readers.read_parquet(spark, f"{out}/fact_temp"))
        _, rows = rec.call(pc, "analyst_query", lambda: capstone.analyst_query(fact_imm, fact_temp), _collect)
        written, files = tree_bytes_files(out)
        return {"analyst": [r.asDict() for r in rows], "written_bytes": written, "files": files}

    def check(self, result) -> list[str]:
        """FIXTURES.md section 4 invariants on the written star schema,
        and the analyst query against DuckDB over the same files."""
        out, stg = self.out_dir, self.in_dir
        con = duckdb.connect()
        con.sql(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{stg}/i94_parquet/*.parquet')")
        for t in ("dim_state", "dim_time", "dim_person", "dim_ports", "dim_airlines", "fact_imm"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}/*.parquet')")
        con.sql(f"CREATE VIEW fact_temp AS SELECT * FROM read_parquet('{out}/fact_temp/*/*.parquet', hive_partitioning=true)")
        states = ", ".join(f"'{s}'" for s in gen.US_STATES)
        con.sql(
            "CREATE VIEW final AS SELECT *, CASE WHEN i94addr IN (" + states + ") THEN i94addr ELSE 'other' END AS state "
            "FROM (SELECT DISTINCT * FROM raw) WHERE i94visa = 2"
        )
        one = lambda sql: con.sql(sql).fetchone()[0]  # noqa: E731
        n_final = one("SELECT count(*) FROM final")
        want = {
            "fact_imm": n_final,
            "dim_person": n_final,
            "dim_state": one("SELECT count(DISTINCT state) FROM final"),
            "dim_time": one("SELECT count(*) FROM (SELECT DISTINCT arrdate FROM final)"),
            "dim_ports": one("SELECT count(*) FROM (SELECT DISTINCT i94port FROM final)"),
            "dim_airlines": one("SELECT count(*) FROM (SELECT DISTINCT airline FROM final)"),
            "fact_temp": one("SELECT count(*) FROM (SELECT DISTINCT dayofmonth, month, state FROM fact_temp)"),
        }
        got = {t: one(f"SELECT count(*) FROM {t}") for t in want}
        bad = [f"{t}: {got[t]} rows, want {n}" for t, n in want.items() if got[t] != n]
        cols = {
            "fact_imm": {"id_imm", "id_state", "id_time", "id_person", "id_port", "id_airline", "id_temp"},
            "fact_temp": {"dayofmonth", "month", "state", "avg_temp", "id_temp"},
            "dim_state": {"state", "id_state"},
        }
        for t, c in cols.items():
            got = set(con.sql(f"SELECT * FROM {t} LIMIT 0").columns)
            if got != c:
                bad.append(f"{t} columns {sorted(got)}")
        oracle = _duck_rows(
            con,
            "SELECT month, state, round(avg(avg_temp), 6) AS avg_temp, count(id_imm) AS tourist_num "
            "FROM fact_imm JOIN fact_temp USING (id_temp) GROUP BY month, state",
        )
        for r in oracle:
            r["month"] = int(r["month"])
        diff = _same_rows(result["analyst"], oracle)
        if diff:
            bad.append(f"analyst_query: {diff}")
        return ["pass: " + "; ".join(bad)] if bad else []


#: The analyst's session: twelve relational registry queries.
ANALYST_QUERIES = (
    "pricing_summary", "star_schema_fact", "analyst_top_segments",
    "shipping_priority", "local_supplier_volume", "grouping_sets_sales",
    "avg_of_avgs", "top1_per_group", "argmax_ties", "date_parts_agg",
    "bucket_join", "pivot_unpivot",
)
_RELATIONAL_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")


def _spec(name: str):
    """A registry query, registered or kept in the unregistered store."""
    return queries.REGISTRY.get(name) or queries.UNREGISTERED[name]


class AnalystQueries(Workload):
    """One analyst runs the twelve queries with ``collect()``."""

    name = "analyst_queries"
    size = 0.01
    tiny_size = 0.001

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.order = list(ANALYST_QUERIES)
        random.Random(self.seed).shuffle(self.order)
        self._oracle: dict | None = None

    def generate(self) -> dict:
        return gen.relational_tables(self.in_dir, self.seed, self.size)

    def ops_per_pass(self) -> int:
        return len(self.order)

    def run_pass(self, spark, rec: Recorder):
        rows = {}
        for name in self.order:
            spec = _spec(name)
            try:
                _, got = rec.call("plans.queries", name, lambda: spec.fn(spark, self.in_dir), _collect)
                rows[name] = [r.asDict() for r in got]
            except Exception as exc:  # a failing query is counted, the loop goes on
                rows[name] = exc
        return rows

    def oracle(self) -> dict:
        if self._oracle is None:
            con = duckdb.connect()
            for t in _RELATIONAL_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.in_dir}/{t}.parquet'")
            self._oracle = {
                n: _duck_rows(con, _spec(n).oracle) for n in ANALYST_QUERIES
            }
        return self._oracle

    def check(self, result) -> list[str]:
        bad = []
        for name, got in result.items():
            if isinstance(got, Exception):
                bad.append(f"{name}: raised {type(got).__name__}: {str(got)[:200]}")
            elif diff := _same_rows(got, self.oracle()[name]):
                bad.append(f"{name}: {diff}")
        return bad


def _sources_digest() -> str:
    """Short hash of the program's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for top in (os.path.dirname(program.__file__), os.path.dirname(os.path.abspath(__file__))):
        for root, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for n in sorted(files):
                if n.endswith(".py"):
                    path = os.path.join(root, n)
                    h.update(os.path.relpath(path, top).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:12]


class Curation(Workload):
    """The training-data curation stages of examples/run_training_pipeline.py."""

    name = "curation"
    size = 100
    tiny_size = 60

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # runs of other code may audit differently: compare only runs
        # of the same sources
        self.audit_file = f"{self.in_dir}-audit-{_sources_digest()}.json"
        self.first_audit = None

    def generate(self) -> dict:
        return gen.curation_corpus(self.in_dir, self.seed, int(self.size))

    def run_pass(self, spark, rec: Recorder):
        audit: list[tuple[str, int, int]] = []

        def barrier(stage, id_col="doc_id"):
            """The example's per-stage barrier: one (rows, id_sum)
            aggregate on the stage's output, which then goes on to the
            next stage unchanged; outputs without a numeric id
            (``id_col=None``) sum to 0."""

            def act(df):
                s = F.sum(id_col) if id_col else F.lit(0)
                r = df.agg(F.count(F.lit(1)).alias("n"), s.alias("s")).collect()[0]
                audit.append((stage, int(r["n"]), int(r["s"] or 0)))
                return df

            return act

        rd = "sources.readers"
        raw, _ = rec.call(rd, "read_table", lambda: readers.read_table(spark, self.in_dir, "documents"))
        emb, _ = rec.call(rd, "read_table", lambda: readers.read_table(spark, self.in_dir, "embeddings"))

        @F.pandas_udf("binary")
        def http_udf(pages):
            return pages.map(lambda b: warc.build_http_response(b.encode("utf-8")))

        host = lambda m: F.concat(F.lit("http://h"), (F.col("doc_id") * m % 7).cast("string"), F.lit(".example/"))  # noqa: E731
        html = raw.select(
            F.concat(F.lit("http://h"), (F.col("doc_id") % 5).cast("string"), F.lit(".example/p/"), F.col("doc_id").cast("string")).alias("url"),
            http_udf(F.concat(
                F.lit("<html><head><title>t</title></head><body><p>"), F.col("text"),
                F.lit('</p><a href="'), host(3), F.lit('x">x</a><a href="'), host(5), F.lit('y">y</a></body></html>'),
            )).alias("payload"),
        )
        wdir, sdir = f"{self.out_dir}/crawl", f"{self.out_dir}/shards"
        ws = "sources.warc"
        rec.call(ws, "write_warc", lambda: warc.write_warc(
            html, wdir, payload_col="payload", uri_col="url", warc_type="response",
            content_type="application/http; msgtype=response", num_files=4, index=True))
        _, crawled = rec.call(ws, "warc_http_documents", lambda: warc.warc_http_documents(spark, wdir).select(
            F.regexp_extract("target_uri", r"/p/(\d+)$", 1).cast("bigint").alias("doc_id"),
            F.regexp_extract("target_uri", r"^http://([^/]+)", 1).alias("host"),
            F.col("text").alias("page"),
        ), barrier("http_decode"))

        ts = "operators.textstats"
        _, docs = rec.call(ts, "strip_html", lambda: textstats.strip_html(crawled, "page", output_column="text")
                           .drop("page").join(raw.select("doc_id", "lang", "source"), on="doc_id"), barrier("strip_html"))
        edges, _ = rec.call(ts, "host_link_edges", lambda: textstats.host_link_edges(
            textstats.extract_links(crawled, "doc_id", "page").join(crawled.select("doc_id", "host"), on="doc_id"), "host"))
        _, docs = rec.call("operators.graph", "pagerank", lambda: docs.join(maybe_broadcast(
            graph.pagerank(edges, "src_host", "dst_host", max_iter=8).withColumnRenamed("node", "host")),
            on="host", how="left").fillna({"rank": 0.0}), barrier("pagerank_prior"))

        words = F.size(F.split(F.trim("text"), r"\s+"))
        rules = [
            ("too_short", words >= 5),
            ("too_long", words <= 100_000),
            ("low_alpha", F.length(F.regexp_replace("text", r"[^A-Za-z ]", "")) >= F.length("text") * 0.4),
            ("dead_host", F.col("rank") > 0.0),
        ]
        def cascade_action(out):
            kept, rule_counts = out
            audit.extend(sorted((f"cascade.{r['rule']}", int(r["rows"]), 0) for r in rule_counts.collect()))
            return barrier("quality_cascade")(kept)

        rec.call("operators.quality", "apply_filter_cascade", lambda: quality.apply_filter_cascade(docs, rules), cascade_action)

        # The second chain (near-dup edges to shards) reads the corpus
        # itself rather than the cascade's output, so its stages do not
        # recompute the crawl chain; see README.md.
        titled = raw.withColumn("title", F.array_join(F.slice(F.split("text", " "), 1, 3), " "))
        _, fz = rec.call("operators.fuzzy", "fuzzy_pairs", lambda: fuzzy.fuzzy_pairs(titled, "doc_id", "title", max_distance=1)
                         .select("id_a", "id_b"), barrier("fuzzy_pairs", "id_a"))
        rec.spans[-1].out_rows = audit[-1][1]
        _, mh = rec.call("operators.dedup", "minhash_verified_pairs", lambda: dedup.minhash_verified_pairs(raw, "doc_id", "text", threshold=0.8)
                         .select("id_a", "id_b"), barrier("minhash_pairs", "id_a"))
        rec.spans[-1].out_rows = audit[-1][1]
        pairs = fz.unionByName(mh).dropDuplicates(["id_a", "id_b"])

        sp = "operators.sampling"
        split, train = rec.call(sp, "split_with_dedup_guard", lambda: sampling.split_with_dedup_guard(
            raw, pairs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}),
            lambda split: barrier("leakage_safe_train")(split.filter(F.col("split") == "train")))
        eval_vecs = split.filter(F.col("split") == "test").join(emb, split["doc_id"] == emb["vec_id"]).select(
            emb["vec_id"].alias("bench_id"), emb["embedding"])
        train_vecs = train.join(emb, train["doc_id"] == emb["vec_id"]).select(train["doc_id"], emb["embedding"])
        _, train = rec.call("operators.similarity", "contamination_screen", lambda: similarity.contamination_screen(
            train_vecs, eval_vecs, "doc_id", "embedding", "bench_id", threshold=0.5),
            lambda c: barrier("decontaminated_train")(train.join(barrier("contamination")(c).select("doc_id"), "doc_id", "left_anti")))
        _, mixed = rec.call(sp, "temperature_mix", lambda: sampling.temperature_mix(train, "doc_id", "source", temperature=2.0),
                            barrier("temperature_mix"))
        lens, _ = rec.call(ts, "token_counts", lambda: textstats.token_counts(mixed, "doc_id", "text")
                           .select("doc_id", F.col("n_ws_tokens").alias("len")))
        _, packs = rec.call("operators.packing", "pack_sequences", lambda: packing.pack_sequences(lens, "doc_id", "len", budget=1024, buckets=64),
                            barrier("pack_sequences"))
        manifest, _ = rec.call("sources.sinks", "write_training_shards", lambda: sinks.write_training_shards(
            mixed.join(packs, on="doc_id"), sdir, key_col="doc_id", num_shards=8, seed=0))
        audit.append(("shards", sum(m["rows"] for m in manifest), len(manifest)))
        crawl, shards = tree_bytes_files(wdir), tree_bytes_files(sdir)
        return {"audit": audit, "written_bytes": crawl[0] + shards[0], "files": crawl[1] + shards[1]}

    def check(self, result) -> list[str]:
        """Every stage non-empty; the audit identical across passes and
        across runs (timed and traced) of the same seed."""
        audit = [list(a) for a in result["audit"]]
        # the contamination screen is a tripwire and a cascade rule may
        # reject nothing; every other stage must keep rows
        empty = [a[0] for a in audit if a[1] == 0 and a[0] != "contamination" and not a[0].startswith("cascade.")]
        if empty:
            return [f"pass: empty stages {empty}"]
        if self.first_audit is None:
            self.first_audit = audit
            if os.path.exists(self.audit_file):
                with open(self.audit_file) as fh:
                    if json.load(fh) != audit:
                        return ["pass: audit differs from the other run of this seed"]
            else:
                with open(self.audit_file, "w") as fh:
                    json.dump(audit, fh)
        elif audit != self.first_audit:
            return ["pass: audit differs from the first pass"]
        return []


class CapstoneThenQueries(Workload):
    """The paper's user: the batch ETL job, then an analyst session."""

    name = "capstone_then_queries"

    def __init__(self, *a, **kw):
        self.etl, self.queries = CapstoneEtl(*a, **kw), AnalystQueries(*a, **kw)

    def generate(self) -> dict:
        a, b = self.etl.generate(), self.queries.generate()
        return {k: a[k] + b[k] for k in a}

    def run_pass(self, spark, rec: Recorder):
        out = self.etl.run_pass(spark, rec)
        return dict(out, queries=self.queries.run_pass(spark, rec))

    def check(self, result) -> list[str]:
        return self.etl.check(result) + self.queries.check(result["queries"])

    def ops_per_pass(self) -> int:
        return self.etl.ops_per_pass() + self.queries.ops_per_pass()

    def dirs(self) -> list[str]:
        return self.etl.dirs() + self.queries.dirs()


WORKLOADS = {w.name: w for w in (CapstoneThenQueries, Curation)}
