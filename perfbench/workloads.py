"""The benchmark workloads.

Each workload runs iterations in a closed loop with one client: the next
iteration starts when the previous one has finished. Every call goes
through :class:`Ctx`, which splits it into resolve / construct / render /
execute phases. ``check`` runs one untimed iteration and returns the list
of failed output checks.
"""

from __future__ import annotations

import json
import os

from .harness import Recorder, execute
from .inputs import Replica, Sizes

# Expected curation outputs per input seed, written by pin_curation.py.
PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned_curation.json")
PIN_SEEDS = 32


def layer_of(transform: str) -> str:
    """Layer a registered transform belongs to: its module for the
    relational operators (``operators.filtering`` for ``filter``), module
    and transform for the functions (``functions.dedup.dedup_minhash``)."""
    from rasgoql_spark import registry

    mod = registry.get_transform(transform).apply.__module__.split(".", 1)[1]
    return f"{mod}.{transform}" if mod.startswith("functions.") else mod


class Ctx:
    """One workload's handle on the engine: session, recorder, scratch dir."""

    def __init__(self, spark, session, rec: Recorder, work_dir: str, rows: dict[str, int]):
        self.spark = spark
        self.session = session
        self.rec = rec
        self.work_dir = work_dir
        self.rows = rows    # row count of each input table

    def dataset(self, call: str, table: str):
        with self.rec.phase(call, "resolve", "session"):
            return self.session.dataset(table)

    def step(self, call: str, chain, transform: str, **kwargs):
        with self.rec.phase(call, "construct", layer_of(transform)):
            return chain.transform(transform, arguments=kwargs)

    def render(self, call: str, chain) -> str:
        with self.rec.phase(call, "render", "render"):
            sql = chain.sql()
        self.rec.note_render(sql)
        return sql

    def dbt(self, call: str, chain) -> str:
        with self.rec.phase(call, "render", "dbt"):
            return chain.to_dbt(output_directory=os.path.join(self.work_dir, "dbt"),
                                file_name=call)

    def call(self, call: str, layer: str, fn, *args, **kwargs):
        """A direct call of one of the engine's functions (no chain): the
        call itself, with any Spark jobs it runs eagerly, is its layer's
        construction."""
        with self.rec.phase(call, "call", layer):
            return fn(*args, **kwargs)

    def build(self, layer: str, fn, *args, **kwargs):
        """Build an index during set-up."""
        with self.rec.phase("setup", "build", layer):
            return fn(*args, **kwargs)

    def execute(self, call: str, df, layer: str) -> None:
        with self.rec.phase(call, "execute", layer):
            execute(df)


def row_hashes(*dfs) -> list[tuple[int, int]]:
    """Order-independent (row count, hash) of each DataFrame, computed in
    one Spark job. Columns are taken by sorted name and doubles rounded to
    6 places, so two plans that compute the same rows agree regardless of
    column order or floating-point summation order."""
    from functools import reduce

    from pyspark.sql import functions as F

    sides = []
    for i, df in enumerate(dfs):
        cols = []
        for name, dtype in sorted(df.dtypes):
            c = F.col(f"`{name}`")
            cols.append(F.round(c, 6) if dtype in ("double", "float") else c)
        sides.append(df.select(F.lit(i).alias("side"),
                               F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647)).alias("h")))
    rows = reduce(lambda a, b: a.unionByName(b), sides).groupBy("side").agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).collect()
    got = {r["side"]: (int(r["n"]), int(r["s"])) for r in rows}
    return [got.get(i, (0, 0)) for i in range(len(dfs))]


class Workload:
    """What every workload offers ``run.py``. ``sizes`` names the seeded
    replicas it reads; ``iteration`` runs one measured iteration; ``check``
    runs one untimed iteration and returns its failed output checks."""

    name = ""
    sizes = Sizes()

    def input_seed(self, seed: int) -> int:
        """The seed the inputs and the checked iteration are drawn from."""
        return seed

    def setup(self, ctx: Ctx) -> None:
        """Work done once per set-up after the inputs are registered."""

    def rows_per_iteration(self, rows: dict[str, int]) -> int:
        """Input rows the calls of one iteration read, from the row count
        of each input table."""
        raise NotImplementedError


# ------------------------------------------------------------ relational

class RelationalChains(Workload):
    """Eight chain templates of the RasgoQL core surface with seeded
    constants, each built, rendered and executed; one is exported to dbt."""

    name = "relational_chains"
    sizes = Sizes(tpch=Replica(copies=2, frac=0.3), events=Replica(copies=1, frac=0.8))

    def __init__(self):
        self.templates = [
            ("filter_drop", self._filter_drop, "operators.filtering", ("lineitem",)),
            ("datetrunc_agg", self._datetrunc_agg, "operators.aggregates", ("lineitem",)),
            ("join_agg", self._join_agg, "operators.joins", ("lineitem", "orders", "customer")),
            ("lag_moving_avg", self._lag_mavg, "operators.windows", ("lineitem",)),
            ("pivot", self._pivot, "operators.reshape", ("lineitem",)),
            ("encode_split", self._encode_split, "operators.ml", ("orders",)),
            ("rolling_agg", self._rolling, "operators.windows", ("lineitem",)),
            ("tumbling_window", self._tumbling, "streaming.ops", ("events",)),
        ]

    def rows_per_iteration(self, rows: dict[str, int]) -> int:
        return sum(rows[t] for *_, tables in self.templates for t in tables)

    # Each template returns the built chain; constants come from ``rng``.
    def _filter_drop(self, ctx, call, rng):
        year = int(rng.integers(1995, 2001))
        c = ctx.dataset(call, "lineitem")
        c = ctx.step(call, c, "filter", filter_statements=[
            f"l_shipdate >= TIMESTAMP '{year}-01-01'",
            f"l_shipdate < TIMESTAMP '{year + 1}-01-01'"])
        return ctx.step(call, c, "drop_columns", include_cols=[
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate"])

    def _datetrunc_agg(self, ctx, call, rng):
        grain = ["week", "month", "quarter"][int(rng.integers(0, 3))]
        c = ctx.dataset(call, "lineitem")
        c = ctx.step(call, c, "datetrunc", dates={"l_shipdate": grain})
        return ctx.step(call, c, "aggregate",
                        group_by=["l_suppkey", f"L_SHIPDATE_{grain.upper()}"],
                        aggregations={"l_extendedprice": ["SUM"],
                                      "l_quantity": ["AVG", "MIN", "MAX"]})

    def _join_agg(self, ctx, call, rng):
        qty = int(rng.integers(20, 31))
        c = ctx.dataset(call, "lineitem")
        c = ctx.step(call, c, "filter", filter_statements=[f"l_quantity >= {qty}"])
        c = ctx.step(call, c, "join", join_table=ctx.dataset(call, "orders"),
                     join_columns={"l_orderkey": "o_orderkey"}, join_type="INNER",
                     join_prefix="O")
        c = ctx.step(call, c, "join", join_table=ctx.dataset(call, "customer"),
                     join_columns={"O_O_CUSTKEY": "c_custkey"}, join_type="INNER",
                     join_prefix="C", broadcast=True)
        return ctx.step(call, c, "aggregate", group_by=["C_C_MKTSEGMENT"],
                        aggregations={"l_extendedprice": ["SUM"], "l_quantity": ["AVG"],
                                      "l_orderkey": ["COUNT"]})

    def _lag_mavg(self, ctx, call, rng):
        window = int(rng.integers(3, 7))
        c = ctx.dataset(call, "lineitem")
        c = ctx.step(call, c, "datetrunc", dates={"l_shipdate": "month"})
        c = ctx.step(call, c, "aggregate", group_by=["l_suppkey", "L_SHIPDATE_MONTH"],
                     aggregations={"l_extendedprice": ["SUM"]})
        c = ctx.step(call, c, "lag", columns=["L_EXTENDEDPRICE_SUM"], amounts=[1, 2],
                     order_by=["L_SHIPDATE_MONTH"], partition=["l_suppkey"])
        return ctx.step(call, c, "moving_avg", input_columns=["L_EXTENDEDPRICE_SUM"],
                        window_sizes=[window], order_by=["L_SHIPDATE_MONTH"],
                        partition=["l_suppkey"])

    def _pivot(self, ctx, call, rng):
        disc = int(rng.integers(4, 7)) / 100.0
        c = ctx.dataset(call, "lineitem")
        c = ctx.step(call, c, "filter", filter_statements=[f"l_discount <= {disc}"])
        return ctx.step(call, c, "pivot", dimensions=["l_linestatus"],
                        pivot_column="l_returnflag", value_column="l_extendedprice",
                        agg_method="SUM", list_of_vals=["A", "N", "R"])

    def _encode_split(self, ctx, call, rng):
        from .inputs import PRIORITIES

        pct = float(rng.integers(70, 91)) / 100.0
        c = ctx.dataset(call, "orders")
        c = ctx.step(call, c, "one_hot_encode", column="o_orderpriority",
                     list_of_vals=PRIORITIES)
        return ctx.step(call, c, "train_test_split",
                        order_by=["o_orderdate", "o_orderkey"], train_percent=pct)

    def _rolling(self, ctx, call, rng):
        k = int(rng.integers(4, 7))
        c = ctx.dataset(call, "lineitem")
        return ctx.step(call, c, "rolling_agg",
                        aggregations={"l_quantity": ["SUM", "MAX"]},
                        order_by=["l_shipdate", "l_orderkey", "l_linenumber"],
                        offsets=[-k, k], group_by=["l_suppkey"])

    def _tumbling(self, ctx, call, rng):
        duration = ["30 minutes", "1 hour", "2 hours"][int(rng.integers(0, 3))]
        c = ctx.dataset(call, "events")
        return ctx.step(call, c, "tumbling_window", ts="ts", duration=duration,
                        aggregations={"event_id": ["COUNT"], "value": ["SUM"]},
                        group_by=["event_type"])

    def iteration(self, ctx: Ctx, rng) -> list:
        dbt_pick = int(rng.integers(0, len(self.templates)))
        chains = []
        for i, (call, build, layer, _) in enumerate(self.templates):
            chain = build(ctx, call, rng)
            ctx.render(call, chain)
            if i == dbt_pick:
                ctx.dbt(call, chain)
            ctx.execute(call, chain.df, layer)
            chains.append(chain)
        return chains

    def check(self, ctx: Ctx, rng, seed: int) -> list[str]:
        """The rendered SQL of every chain, run with ``spark.sql``, gives
        the same rows as the chain's DataFrame."""
        failures = []
        for call, build, _layer, _tables in self.templates:
            chain = build(ctx, call, rng)
            want, got = row_hashes(chain.df, ctx.spark.sql(ctx.render(call, chain)))
            failures += check_parity(call, want, got)
        return failures


def check_parity(call: str, want: tuple[int, int], got: tuple[int, int]) -> list[str]:
    """A chain's rows and its rendered SQL's rows agree and are not empty."""
    if got != want or want[0] == 0:
        return [f"{call}: sql rows {got} != chain rows {want}"]
    return []


# -------------------------------------------------------------- curation

# Synthesized URLs (the engine's documents carry none): a quarter of the
# documents share a URL with another one after normalization.
URL_SQL = (
    "SELECT doc_id, text, lang, CASE "
    "WHEN doc_id % 4 = 0 THEN concat('HTTP://WWW.Site', CAST(doc_id % 997 AS STRING), "
    "'.com:80/a//b/?utm_source=x&b=2&a=1#f') "
    "WHEN doc_id % 4 = 1 THEN concat('http://site', CAST((doc_id - 1) % 997 AS STRING), "
    "'.com/a/b?b=2&a=1') "
    "ELSE concat('https://site', CAST(doc_id AS STRING), '.org/p/', "
    "CAST(doc_id % 5 AS STRING)) END AS url FROM {{source_table}}"
)


class CurationPipeline(Workload):
    """The composed LLM-data curation chain over ``documents`` with a fresh
    seeded eval slice per iteration, then near-duplicate clustering on a
    seeded slice. The inputs and the checked iteration are drawn from
    ``seed % PIN_SEEDS``, so every seed has pinned expected outputs."""

    name = "curation_pipeline"
    sizes = Sizes(documents=Replica(copies=1, frac=1.0))
    slice_mod = 6   # near_dup_clusters runs on 1/slice_mod of the documents

    def input_seed(self, seed: int) -> int:
        return seed % PIN_SEEDS

    def rows_per_iteration(self, rows: dict[str, int]) -> int:
        n = rows["documents"]
        return n + n // self.slice_mod

    def pipeline(self, ctx: Ctx, rng):
        call = "pipeline"
        mod, res = 50, int(rng.integers(0, 50))
        docs = ctx.dataset(call, "documents")
        ev = ctx.step(call, docs, "filter", filter_statements=[f"doc_id % {mod} = {res}"])
        c = ctx.step(call, docs, "apply", sql=URL_SQL)
        c = ctx.step(call, c, "url_normalize", url="url")
        c = ctx.step(call, c, "dedup_url", url="url", id_col="doc_id")
        c = ctx.step(call, c, "decontaminate", text="text", id_col="doc_id", eval_table=ev,
                     ngram=5, threshold=0.5, mode="filter")
        c = ctx.step(call, c, "quality_filter", text="text", min_tokens=20,
                     max_word_rep_ratio=0.6)
        c = ctx.step(call, c, "dedup_minhash", text="text", id_col="doc_id",
                     threshold=0.5, mode="filter")
        en = ctx.step(call, c, "filter", filter_statements=["lang = 'en'"])
        rest = ctx.step(call, c, "filter", filter_statements=["lang <> 'en'"])
        return ctx.step(call, en, "mix_datasets", others=[rest], weights=[3, 1],
                        key="doc_id")

    def near_dup_clusters(self, ctx: Ctx, r: int):
        """The slice ``doc_id % slice_mod = r`` and its near-duplicate
        clusters, rendered."""
        call = "near_dup_clusters"
        docs = ctx.dataset(call, "documents")
        target = ctx.step(call, docs, "filter",
                          filter_statements=[f"doc_id % {self.slice_mod} = {r}"])
        ndc = ctx.step(call, target, "near_dup_clusters", text="text", id_col="doc_id",
                       threshold=0.5)
        ctx.render(call, ndc)
        return target, ndc

    def iteration(self, ctx: Ctx, rng) -> list:
        """The pipeline, then near_dup_clusters on a seeded slice."""
        out = self.pipeline(ctx, rng)
        ctx.render("pipeline", out)
        ctx.execute("pipeline", out.df, "functions.mix.mix_datasets")
        _, ndc = self.near_dup_clusters(ctx, int(rng.integers(0, self.slice_mod)))
        ctx.execute("near_dup_clusters", ndc.df, "functions.dedup.near_dup_clusters")
        return [out, ndc]

    def check(self, ctx: Ctx, rng, seed: int) -> list[str]:
        """Kept/removed counts and the order-independent hash of the kept
        rows match the values pinned for the input seed; the kept documents
        have distinct ids and URLs; near_dup_clusters gives one row per
        document of its slice."""
        with open(PINNED) as f:
            pinned = json.load(f).get(str(self.input_seed(seed)))
        return check_curation(self.outputs(ctx, rng), pinned, ctx.rows["documents"])

    def outputs(self, ctx: Ctx, rng) -> dict:
        from pyspark.sql import functions as F

        out = self.pipeline(ctx, rng)
        ctx.render("pipeline", out)
        kept_df = out.df.select("doc_id", "text", "lang", "url").persist()
        try:
            (kept, h), = row_hashes(kept_df)
            row = kept_df.agg(F.countDistinct("doc_id").alias("ids"),
                              F.countDistinct("url").alias("urls")).first()
        finally:
            kept_df.unpersist()
        target, ndc = self.near_dup_clusters(ctx, int(rng.integers(0, self.slice_mod)))
        n_docs = ctx.rows["documents"]
        return {
            "kept": kept, "removed": n_docs - kept, "hash": h,
            "distinct_ids": row["ids"], "distinct_urls": row["urls"],
            "slice_rows": target.df.count(),
            "cluster_rows": ndc.df.count(),
        }


def check_curation(got: dict, pinned: dict | None, n_docs: int) -> list[str]:
    failures = []
    if pinned is None:
        failures.append("no pinned outputs for this input seed")
    if not 0 < got["kept"] < n_docs:
        failures.append(f"kept {got['kept']} of {n_docs} documents")
    for key in ("distinct_ids", "distinct_urls"):
        if got[key] != got["kept"]:
            failures.append(f"{key} {got[key]} != kept {got['kept']}")
    if got["cluster_rows"] != got["slice_rows"]:
        failures.append(f"cluster rows {got['cluster_rows']} != slice rows {got['slice_rows']}")
    if pinned is not None:
        for key in ("kept", "removed", "hash"):
            if got[key] != pinned[key]:
                failures.append(f"{key} {got[key]} != pinned {pinned[key]}")
    return failures


# ---------------------------------------------------------------- vector

class VectorRetrieval(Workload):
    """Reads beside writes over ``embeddings``: set-up builds an IVF-PQ, a
    binary and an IVF index; each iteration runs IVF-PQ and binary top-10
    search for a seeded query batch, an IVF-PQ join of a seeded left batch,
    and folds a seeded batch of held-out vectors into the IVF index."""

    name = "vector_retrieval"
    sizes = Sizes(embeddings=Replica(copies=1, frac=0.5))
    k = 10
    n_queries = 20
    n_join = 100
    n_update = 50
    held_out = "vec_id % 10 = 0"   # kept out of the IVF index; update batches come from here
    # The check fails below these recall@10 floors against exact search.
    recall_floor = {"ivfpq": 0.1, "binary": 0.3}
    PQ = "functions.pq"
    SIM = "functions.similarity"

    def setup(self, ctx: Ctx) -> None:
        from rasgoql_spark.functions.pq import ivfpq_index
        from rasgoql_spark.functions.similarity import binary_index, ivf_index

        emb = ctx.dataset("setup", "embeddings").df
        with ctx.rec.phase("setup", "build", "bench"):
            ids = sorted(r[0] for r in emb.select("vec_id").collect())
        self.held = [i for i in ids if i % 10 == 0]
        self.ids = ids
        self.pq = ctx.build(f"{self.PQ}.ivfpq_index", ivfpq_index, emb, "embedding", "vec_id",
                            num_centroids=8, coarse_iterations=1, m=4, codebook_size=8,
                            iterations=1)
        self.binary = ctx.build(f"{self.SIM}.binary_index", binary_index, emb, "embedding",
                                "vec_id")
        self.ivf = ctx.build(f"{self.SIM}.ivf_index", ivf_index,
                             emb.filter(f"NOT ({self.held_out})"), "embedding", "vec_id",
                             num_centroids=8)
        self.ivf_rows = len(ids) - len(self.held)

    def rows_per_iteration(self, rows: dict[str, int]) -> int:
        # two searches and the join scan the corpus; the join and the
        # update also read their batches
        return 3 * rows["embeddings"] + self.n_join + self.n_update

    def _batch(self, ctx: Ctx, call: str, ids: list[int]):
        """A batch of vectors, selected with a chain."""
        c = ctx.dataset(call, "embeddings")
        c = ctx.step(call, c, "filter",
                     filter_statements=[f"vec_id IN ({', '.join(map(str, ids))})"])
        return c.df

    def run(self, ctx: Ctx, rng) -> dict:
        from rasgoql_spark.functions.pq import embedding_join_ivfpq, similarity_search_ivfpq
        from rasgoql_spark.functions.similarity import (
            similarity_search_binary,
            update_ivf_index,
        )

        pick = lambda pool, n: sorted(int(i) for i in rng.choice(pool, n, replace=False))  # noqa: E731
        queries = pick(self.ids, self.n_queries)
        out = {"queries": queries}

        layer = f"{self.PQ}.similarity_search_ivfpq"
        emb = ctx.dataset("ivfpq_search", "embeddings").df
        out["ivfpq"] = ctx.call("ivfpq_search", layer, similarity_search_ivfpq, emb, "embedding",
                                "vec_id", queries, k=self.k, nprobe=2, rerank=True,
                                rerank_factor=4, index=self.pq)
        ctx.execute("ivfpq_search", out["ivfpq"], layer)

        layer = f"{self.SIM}.similarity_search_binary"
        emb = ctx.dataset("binary_search", "embeddings").df
        out["binary"] = ctx.call("binary_search", layer, similarity_search_binary, emb,
                                 "embedding", "vec_id", queries, k=self.k, rerank=True,
                                 rerank_factor=4, index=self.binary)
        ctx.execute("binary_search", out["binary"], layer)

        layer = f"{self.PQ}.embedding_join_ivfpq"
        left = self._batch(ctx, "join", pick(self.ids, self.n_join))
        out["join"] = ctx.call("join", layer, embedding_join_ivfpq, left, "embedding", "vec_id",
                               k=2, nprobe=2, index=self.pq)
        ctx.execute("join", out["join"], layer)

        layer = f"{self.SIM}.update_ivf_index"
        batch = self._batch(ctx, "update", pick(self.held, self.n_update))
        out["updated"] = ctx.call("update", layer, update_ivf_index, self.ivf, batch,
                                  "embedding", "vec_id")
        ctx.execute("update", out["updated"].frame, layer)
        return out

    def iteration(self, ctx: Ctx, rng) -> dict:
        out = self.run(ctx, rng)
        out.pop("updated").release()    # the base index stays as set-up built it
        return out

    def check(self, ctx: Ctx, rng, seed: int) -> list[str]:
        """IVF-PQ and binary recall@10 against exact search meet their
        floors; the updated index holds the base rows plus the batch; the
        join gives every left row its neighbours."""
        from rasgoql_spark.functions.similarity import similarity_search

        out = self.run(ctx, rng)
        try:
            emb = ctx.spark.table("embeddings")
            exact = similarity_search(emb, "embedding", "vec_id",
                                      query_ids=out["queries"], k=self.k)
            truth, ivfpq, binary = (neighbours(df) for df in (exact, out["ivfpq"],
                                                              out["binary"]))
            self.recall = {"ivfpq": recall_at(truth, ivfpq, self.k),
                           "binary": recall_at(truth, binary, self.k)}
            got = {"updated_rows": out["updated"].frame.count(),
                   "join_left": out["join"].select("vec_id").distinct().count()}
        finally:
            out["updated"].release()
        want = {"updated_rows": self.ivf_rows + self.n_update, "join_left": self.n_join}
        return check_vector(self.recall, self.recall_floor, got, want)


def neighbours(df) -> dict[int, set[int]]:
    """{query id: ids of its returned neighbours} from a search result."""
    out: dict[int, set[int]] = {}
    for r in df.select("QUERY_ID", "MATCH_ID").collect():
        out.setdefault(int(r[0]), set()).add(int(r[1]))
    return out


def recall_at(truth: dict, got: dict, k: int) -> float:
    """Mean share of each query's exact top-k found in its returned top-k."""
    return sum(len(truth[q] & got.get(q, set())) / min(k, len(truth[q])) for q in truth) \
        / max(len(truth), 1)


def check_vector(recall: dict, floor: dict, got: dict, want: dict) -> list[str]:
    failures = [f"{name} recall@10 {recall[name]:.3f} < floor {floor[name]}"
                for name in floor if recall[name] < floor[name]]
    failures += [f"{key} {got[key]} != {want[key]}" for key in want if got[key] != want[key]]
    return failures


# ---------------------------------------------------------- composition

class CurationRetrieval(Workload):
    """The curation pipeline, then vector retrieval, in every iteration.
    One workload instead of two, so that each run pays the JVM start and
    the cold first iteration once: the benchmark's time budget has room for
    two workloads' runs at this cost, not three."""

    name = "curation_retrieval"
    sizes = Sizes(documents=CurationPipeline.sizes.documents,
                  embeddings=VectorRetrieval.sizes.embeddings)

    def __init__(self):
        self.curation = CurationPipeline()
        self.vector = VectorRetrieval()

    @property
    def recall(self) -> dict:
        return getattr(self.vector, "recall", {})

    def input_seed(self, seed: int) -> int:
        return self.curation.input_seed(seed)

    def setup(self, ctx: Ctx) -> None:
        self.vector.setup(ctx)

    def rows_per_iteration(self, rows: dict[str, int]) -> int:
        return self.curation.rows_per_iteration(rows) + self.vector.rows_per_iteration(rows)

    def iteration(self, ctx: Ctx, rng) -> list:
        return [self.curation.iteration(ctx, rng), self.vector.iteration(ctx, rng)]

    def check(self, ctx: Ctx, rng, seed: int) -> list[str]:
        return self.curation.check(ctx, rng, seed) + self.vector.check(ctx, rng, seed)


WORKLOADS = {w.name: w for w in (RelationalChains, CurationRetrieval)}
