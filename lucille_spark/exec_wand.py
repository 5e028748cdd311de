"""Segment executor: block-decode + block-max pruned evaluation of
one shard's postings at a time, then a k-row global merge. Two lanes
run the same shard kernel (`_make_kernel`):

  * the driver lane, for small non-positional top-k plans: ONE Arrow
    collect (`toArrow`) of the pruned, term-filtered segment slice
    without its positions columns, the kernel per shard in this
    process (as `local_serve.LocalSearcher` does), and the (score
    desc, doc_id asc) merge with `eval_local.top_k`. The k rows come
    back as a local relation, so the query costs one scan job and no
    Python-worker stage.
  * the per-shard lane, for everything else:

  segments parquet ──filter(term IN query terms / startswith / range
      predicates, see _term_filter)──  [parquet predicate pushdown +
      row-group pruning: segments are sorted by term string within
      each shard partition]
    ──groupBy(shard).applyInPandas(kernel)──  each shard decodes its
      blocks (numpy varbyte), builds a ShardData and runs the SAME
      evaluator as the oracle (eval_local.evaluate); emits its local
      top-k only
    ──orderBy(score desc, doc_id).limit(k)──  global merge of
      num_shards * k rows -> TakeOrderedAndProject (no full shuffle).

A plan takes the driver lane unless it needs the doc universe (NOT,
meta filters, match-all, or more than TOMBSTONE_SHIP_MAX tombstones),
needs positions (phrases: a hot term's positions decode is many MB),
or its estimated block count is over DRIVER_LANE_MAX_BLOCKS (`k=None`
never reaches either lane). The estimate uses driver-side data only —
the DriverDictionary df of each plan term / block_size, plus one block
per shard — so choosing a lane never runs a Spark job; with a
PushdownDictionary every plan takes the per-shard lane.

Crossover, measured on a 4-vCPU Intel Xeon VM, Spark local[4], k=10,
hot-term ORs (plus one AND NOT shape) over fixtures.generate_docs
indexes (4 shards, block_size 128), median of 5 runs (3 for 8+ terms)
per lane, interleaved:

  docs   query                          est blocks  driver  per-shard
  20k    cats                                   34   197 ms    506 ms
  20k    import OR def                         320   190 ms    516 ms
  20k    six hot terms OR                      957   292 ms    524 ms
  100k   import OR def OR return              2350   300 ms    700 ms
  100k   six hot terms OR                     4689   562 ms    779 ms
  400k   import AND NOT def                   6235   365 ms   1168 ms
  400k   import OR def OR return              9364  1153 ms   1732 ms
  400k   six hot terms OR                    18683  2061 ms   2547 ms
  400k   8-term OR                           24842  2796 ms   2922 ms
  400k   12-term OR                          36166  3455 ms   3372 ms
  400k   18-term OR                          50529  4665 ms   3604 ms

The lanes cross between 25k and 36k estimated blocks; the threshold
sits below that. At 18.7k blocks the driver lane's peak resident
memory grew by about 50 MB.

Block-max pruning (BASELINE.json:6 "block-max WAND pruning"): for
flat disjunctions/conjunctions of scored terms the kernel skips
decoding blocks that provably cannot reach the running top-k
threshold, using the per-block BM25 upper bounds precomputed at
build time — a vectorized MaxScore/BMW hybrid:

  * OR: terms sorted by whole-term upper bound desc are decoded until
    the remaining terms' ub sum < the current k-th score; remaining
    (non-essential) terms then decode ONLY blocks whose doc range
    intersects current candidates (a doc matching exclusively
    non-essential terms is bounded by their ub sum < threshold).
  * AND: the rarest term is decoded fully; every other term decodes
    only blocks overlapping the running candidate id range-set.

For trees that are not flat term booleans the kernel decodes the
(already term-filtered) blocks exhaustively — still numpy-vectorized
and shard-local. Pruned and exhaustive paths, and the two lanes, are
asserted equal in tests (tests/test_engine_wand.py).
"""

from __future__ import annotations

from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType, LongType, StructField, StructType,
)

from lucille_spark import plans as P
from lucille_spark.codec import bitpack_decode, varbyte_decode
from lucille_spark.pushdown import expand_condition, file_prune_bounds
from lucille_spark.eval_local import Posting, ShardData, evaluate, top_k
from lucille_spark.index.reader import DriverDictionary, SparkIndex

OUT_SCHEMA = "doc_id long, score double"
_OUT_STRUCT = StructType(
    [StructField("doc_id", LongType()), StructField("score", DoubleType())]
)

# posting-block codecs by the name recorded in stats.json at build
DECODERS = {"varbyte": varbyte_decode, "bitpack": bitpack_decode}

# Tombstone sets up to this size ship into the shard kernels as a
# sorted array in the task closure (~8 B/id serialized per task).
# Past it the set stays DISTRIBUTED: doclens gains a `_del` flag via
# a JVM join against deleted_df and each shard derives its LOCAL
# tombstone array from the cogrouped slice — exact same results, no
# multi-MB closure per task (ADVICE r2 #2).
TOMBSTONE_SHIP_MAX = 100_000

# Largest estimated posting-block count (_estimated_blocks) a query
# may touch and still be answered in the driver lane; past it the
# per-shard lane's parallel kernels win. Crossover table in the module
# docstring.
DRIVER_LANE_MAX_BLOCKS = 20_000


def _tombstones(ix):
    """-> (deleted, mark_dl): `deleted` is None, a sorted np array
    (small sets, closure-shipped), or the sentinel 'dl' (large sets,
    derive per shard from the doclens `_del` column)."""
    n = getattr(ix, "deleted_count", 0)
    if not n:
        return None, False
    if n <= TOMBSTONE_SHIP_MAX:
        return ix.deleted_ids, False
    return "dl", True


def _estimated_blocks(ix, terms) -> Optional[float]:
    """Upper bound on the posting blocks `terms` span, from driver-side
    data only: per term df / block_size, plus one partial block per
    shard. None when the index cannot say without a Spark job (a
    PushdownDictionary, or stats without the block layout)."""
    bs = ix.stats.get("block_size")
    shards = ix.stats.get("num_shards")
    if not (isinstance(ix.dictionary, DriverDictionary) and bs and shards):
        return None
    dfs = ix.dictionary.lookup_df(terms)
    return sum(df / bs + shards for df in dfs.values())


def local_frame(spark, rows, schema: StructType) -> DataFrame:
    """A DataFrame over rows already in the driver that runs no Spark
    job when collected. The rows go in as an Arrow table, which Spark
    turns into a LocalRelation whether or not the session enables Arrow;
    `createDataFrame(rows)` would parallelize them, one job per
    collect. Columns are taken by position, so duplicate names
    survive."""
    asch = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(asch)],
        schema=asch,
    )
    return spark.createDataFrame(table, schema)


def _mark_deleted(dl: DataFrame, ix) -> DataFrame:
    """Left-join the tombstone flag onto a doclens projection (JVM
    join; AQE picks broadcast vs shuffle by actual size)."""
    dd = ix.deleted_df.dropDuplicates(["doc_id"]).withColumn(
        "_del", F.lit(True)
    )
    return dl.join(dd, "doc_id", "left")


def _local_deleted(deleted, dl_pdf) -> Optional[np.ndarray]:
    """Kernel-side: resolve the `deleted` argument to this shard's
    sorted tombstone array (or None)."""
    if deleted is None or isinstance(deleted, np.ndarray):
        return deleted
    # sentinel 'dl': derive from the cogrouped doclens slice
    if dl_pdf is None or not len(dl_pdf) or "_del" not in dl_pdf:
        return None
    mask = dl_pdf["_del"].fillna(False).to_numpy(dtype=bool)
    arr = np.sort(dl_pdf.loc[mask, "doc_id"].to_numpy(dtype=np.int64))
    return arr if arr.size else None


class WandExecutor:
    #: bounded LRU of built plans, keyed like exec_df's (plan build
    #: is hundreds of py4j round trips; the DataFrame is immutable)
    PLAN_CACHE_MAX = 64

    def __init__(self, index: SparkIndex, prune: bool = True):
        self.ix = index
        self.prune = prune
        self._plan_cache: "OrderedDict" = OrderedDict()

    def warmup(self) -> None:
        """Pay process one-time costs at startup (twin of
        exec_df.DataFrameExecutor.warmup): the first applyInPandas
        job spawns the reusable Python worker pool and compiles the
        cogroup/groupBy-apply machinery — ~2 s measured on the first
        user query if not pre-paid here. No-op on failure."""
        try:
            ts = self.ix.sample_terms(2)
            if not ts:
                return
            t1, t2 = ts[0], ts[-1]
            # pass plan NODES: node queries skip the string-keyed plan
            # cache, so warmup leaves it untouched. One shape per
            # lane: a small OR takes the driver lane (Arrow collect),
            # a phrase the plain groupBy-apply (positional plans stay
            # per shard), and a pure NOT the cogroup path (the doc
            # universe -> segments x doclens).
            nodes = [
                self.ix.plan(q)
                for q in (f"{t1} OR {t2}", f'"{t1} {t2}"', f"NOT {t2}")
            ]
            _tombstones(self.ix)  # load the delete set before sharing
        except Exception:
            return
        # the three are independent jobs: run them concurrently, so
        # warming the third lane costs no more start-up time
        with ThreadPoolExecutor(len(nodes)) as pool:
            futs = [
                pool.submit(lambda n=n: self.search(n, k=1).collect())
                for n in nodes
            ]
        for f in futs:
            f.exception()  # a failed probe only leaves its lane cold

    def search(
        self, query, k: int = 10, with_meta: bool = False,
        synonyms=None, doc_boosts=None,
    ) -> DataFrame:
        """`doc_boosts`: (lo, hi, factor) doc-id ranges multiplying
        scores before the global top-k cut (ES `indices_boost`).
        Applied to the per-shard kernel output, which is EXACT as
        long as each range covers whole shards (alias parts do:
        every shard belongs to one part): a constant positive factor
        never reorders a shard's local top-k, so the boosted global
        winners are all still present at the merge."""
        if k is None:
            # the WAND kernel is inherently top-k; UNBOUNDED match
            # sets (delete_by_query, constant_score/boosting legs,
            # facets over all matches) run the DataFrame plan of the
            # SAME physical tree — rank identity between the two
            # executors is the hash-gated contract, so this is a
            # strategy switch, not a semantics change.
            from lucille_spark.exec_df import DataFrameExecutor

            return DataFrameExecutor(self.ix).search(
                query, k=None, with_meta=with_meta, synonyms=synonyms,
                doc_boosts=doc_boosts,
            )
        cache_key = None
        if (
            isinstance(query, str)
            and synonyms is None
            and not doc_boosts
            and getattr(self, "profile_acc", None) is None
        ):
            cache_key = (
                query, k, with_meta,
                getattr(self.ix, "plan_version", 0),
            )
            hit = self._plan_cache.get(cache_key)
            if hit is not None:
                self._plan_cache.move_to_end(cache_key)
                return hit
        ix = self.ix
        node = ix.plan(query, synonyms=synonyms)
        terms = P.collect_terms(node)

        seg_src = getattr(ix, "segments_for", None)
        if seg_src is not None:
            exact, intervals = file_prune_bounds(node)
            segs = seg_src(exact, intervals)
        else:
            segs = ix.segments
        if terms:
            segs = segs.filter(_term_filter(node, terms))
        deleted, mark_dl = _tombstones(ix)
        # 'dl' tombstones need the doclens slice
        need_uni = P.needs_universe(node) or mark_dl
        est = None
        if not need_uni and not P.needs_positions(node):
            est = _estimated_blocks(ix, terms)
        if est is not None and est <= DRIVER_LANE_MAX_BLOCKS:
            out = self._driver_lane(
                node, segs if est else None, k, deleted, doc_boosts
            )
        else:
            out = self._shard_lane(
                node, segs, k, need_uni, mark_dl, deleted, with_meta,
                doc_boosts,
            )
        if with_meta and not need_uni:
            # (the cogrouped shard lane emits the meta columns itself)
            meta = ix.doclens.drop("shard", "doc_len")
            # broadcast the K-ROW result side, stream doclens: a left
            # join would force doclens as the build side (full
            # shuffle/hash of the corpus at scale); every result id
            # exists in doclens, so inner == left here
            out = meta.join(F.broadcast(out), "doc_id").select(
                "doc_id", "score",
                *[c for c in meta.columns if c != "doc_id"],
            ).orderBy(F.desc("score"), F.asc("doc_id"))
        if cache_key is not None:
            self._plan_cache[cache_key] = out
            if len(self._plan_cache) > self.PLAN_CACHE_MAX:
                self._plan_cache.popitem(last=False)
        return out

    def _kernel(self, node, k, need_uni, deleted, meta_out=None):
        """The shard kernel both lanes run (see _make_kernel)."""
        stats = self.ix.stats
        return _make_kernel(
            node, float(stats["avg_dl"]), k, self.prune, need_uni,
            list(stats.get("meta_cols", [])),
            DECODERS[stats.get("codec", "varbyte")], deleted, meta_out,
            stats_acc=getattr(self, "profile_acc", None),
        )

    def _driver_lane(self, node, segs, k, deleted, doc_boosts) -> DataFrame:
        """One Arrow collect of the term-filtered segment slice, the
        shard kernel run per shard in this process, and the (score
        desc, doc_id asc) merge -> a k-row frame that runs no job.
        `segs` None: no plan term has postings, so nothing matches and
        nothing is read."""
        ids_l, sc_l = [], []
        if segs is not None:
            kernel = self._kernel(node, k, False, deleted)
            # positional plans never take this lane: leave the
            # positions columns (the bulk of the bytes) unread
            pdf = segs.drop("pos_counts", "positions").toArrow().to_pandas()
            for _, part in pdf.groupby("shard", sort=False):
                res = kernel(part.reset_index(drop=True))
                ids_l.append(res["doc_id"].to_numpy(dtype=np.int64))
                sc_l.append(res["score"].to_numpy(dtype=np.float64))
        ids = np.concatenate(ids_l) if ids_l else np.empty(0, np.int64)
        scores = (np.concatenate(sc_l) if sc_l
                  else np.empty(0, np.float64))
        if doc_boosts:
            # the CASE of exec_df._boost_case: the last matching
            # range wins, ids outside every range keep 1.0
            f = np.ones(ids.size)
            for lo, hi, fct in doc_boosts:
                f[(ids >= int(lo)) & (ids < int(hi))] = float(fct)
            scores = scores * f
        ids, scores = top_k(ids, scores, k)
        return local_frame(
            self.ix.doclens.sparkSession,
            list(zip(ids.tolist(), scores.tolist())),
            _OUT_STRUCT,
        )

    def _shard_lane(
        self, node, segs, k, need_uni, mark_dl, deleted, with_meta,
        doc_boosts,
    ) -> DataFrame:
        """Per-shard applyInPandas kernels, then the global merge of
        num_shards * k rows. With the doc universe cogrouped and
        `with_meta`, the kernel also emits the meta columns."""
        ix = self.ix
        # meta fold: when the kernel already cogroups doclens, it
        # emits the meta columns for its local top-k directly — one
        # fewer scan + exchange than the post-hoc join (with_meta on
        # the plain path stays a broadcast join of the k-row result
        # against doclens).
        meta_out = []
        schema = OUT_SCHEMA
        if with_meta and need_uni:
            dl_schema = {f.name: f.dataType.simpleString()
                         for f in ix.doclens.schema.fields}
            meta_out = [
                c for c in ix.doclens.columns
                if c not in ("shard", "doc_id", "doc_len")
            ]
            schema = OUT_SCHEMA + "".join(
                f", {c} {dl_schema[c]}" for c in meta_out
            )
        kernel = self._kernel(node, k, need_uni, deleted, meta_out)
        if need_uni:
            # cogroup segments with the shard's doclens slice so the
            # kernel has the doc universe + metadata columns
            dl_cols = set(
                ["shard", "doc_id", "doc_len",
                 *ix.stats.get("meta_cols", [])] + meta_out
            )
            dl = ix.doclens.select(
                *[c for c in ix.doclens.columns if c in dl_cols]
            )
            if mark_dl:
                dl = _mark_deleted(dl, ix)
            grouped = segs.groupBy("shard").cogroup(dl.groupBy("shard"))
            local = grouped.applyInPandas(kernel, schema=schema)
        else:
            local = segs.groupBy("shard").applyInPandas(
                kernel, schema=schema
            )
        if doc_boosts:
            from lucille_spark.exec_df import _boost_case

            local = local.withColumn(
                "score", F.col("score") * _boost_case(doc_boosts)
            )
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


    def search_many(
        self,
        queries,
        k: int = 10,
        ks: "Optional[Dict[str, int]]" = None,
        similarities: "Optional[Dict[str, str]]" = None,
    ) -> DataFrame:
        """Evaluate a BATCH of queries in one job: one term-filtered
        segment scan (union of every query's term predicate), one
        applyInPandas pass per shard that decodes each touched term
        once and runs the shared evaluator per query, then a
        per-query top-k merge (Window row_number over shards*k*Q
        rows). This is the serving shape for high-QPS workloads at
        scale — per-job fixed overhead and the scan are amortized
        over the whole batch instead of paid per query.

        `queries`: dict[query_id -> query string] or list (ids
        q0..qN-1). `ks` / `similarities` override k / the ranking
        formula per query id (a mixed batch stays ONE job: the plan
        trees carry their own per-term weights, the final window
        filter applies a per-query row limit). -> (query_id, doc_id,
        score), k_q rows per query in (score desc, doc_id asc) order
        within each query.
        """
        from pyspark.sql import Window

        ix = self.ix
        if not isinstance(queries, dict):
            queries = {f"q{i}": q for i, q in enumerate(queries)}
        sims = similarities or {}
        nodes = {
            qid: ix.plan(q, similarity=sims.get(qid))
            for qid, q in queries.items()
        }
        kmap = {qid: int((ks or {}).get(qid, k)) for qid in queries}

        seg_src = getattr(ix, "segments_for", None)
        if seg_src is not None:
            exact_all: set = set()
            intervals_all: list = []
            for node in nodes.values():
                exact, intervals = file_prune_bounds(node)
                exact_all |= set(exact)
                intervals_all.extend(intervals)
            segs = seg_src(sorted(exact_all), intervals_all)
        else:
            segs = ix.segments
        # ONE union predicate for the whole batch: a single isin over
        # every query's exact terms + one OR per expansion predicate
        # (not per query) — keeps driver-serial py4j Column
        # construction O(expansions), not O(batch x clauses).
        exact_terms: set = set()
        preds: list = []
        any_terms = False
        for node in nodes.values():
            e, p = _term_filter_parts(node)
            exact_terms |= e
            preds.extend(p)
            any_terms = any_terms or bool(P.collect_terms(node))
        if exact_terms or preds or any_terms:
            cond = (
                F.col("term").isin(sorted(exact_terms))
                if exact_terms
                else None
            )
            for p in preds:
                cond = p if cond is None else (cond | p)
            if cond is not None:
                segs = segs.filter(cond)

        need_uni = any(P.needs_universe(n) for n in nodes.values())
        pos_terms: set = set()
        for node in nodes.values():
            if P.needs_positions(node):
                pos_terms.update(P.collect_terms(node))
        avgdl = float(ix.stats["avg_dl"])
        meta_cols = list(ix.stats.get("meta_cols", []))
        decode = DECODERS[ix.stats.get("codec", "varbyte")]
        deleted, mark_dl = _tombstones(ix)
        need_uni = need_uni or mark_dl  # 'dl' needs the doclens slice
        kernel = _make_batch_kernel(
            nodes, avgdl, kmap, need_uni, pos_terms, meta_cols, decode,
            deleted,
        )
        if need_uni:
            dl = ix.doclens.select(
                "shard", "doc_id", "doc_len", *meta_cols
            )
            if mark_dl:
                dl = _mark_deleted(dl, ix)
            grouped = segs.groupBy("shard").cogroup(dl.groupBy("shard"))
            local = grouped.applyInPandas(kernel, schema=BATCH_SCHEMA)
        else:
            local = segs.groupBy("shard").applyInPandas(
                kernel, schema=BATCH_SCHEMA
            )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        if len(set(kmap.values())) <= 1:
            klim = F.lit(next(iter(kmap.values()), k))
        else:
            m = F.create_map(
                *[F.lit(x) for qid in kmap for x in (qid, kmap[qid])]
            )
            klim = m[F.col("query_id")]
        return (
            local.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= klim)
            .drop("_rn")
        )


BATCH_SCHEMA = "query_id string, doc_id long, score double"


def _make_batch_kernel(
    nodes: Dict[str, P.PNode],
    avgdl: float,
    k,  # int, or dict[query_id -> int] for per-query limits
    need_uni: bool,
    pos_terms: set,
    meta_cols: List[str],
    decode=varbyte_decode,
    deleted=None,  # None | sorted np.ndarray | "dl" sentinel
):
    """Shard kernel for search_many: decode every term in the shard
    slice ONCE (positions only for terms some query needs
    positionally), then evaluate each query tree against the shared
    ShardData with the same evaluator as single-query search; emit
    each query's local top-k."""

    def eval_segments(seg_pdf: pd.DataFrame, dl_pdf=None) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_id": [], "doc_id": [], "score": []}
        ).astype({"query_id": "object", "doc_id": "int64", "score": "float64"})
        if len(seg_pdf) == 0 and dl_pdf is None:
            return empty
        dead = _local_deleted(deleted, dl_pdf)
        sd = ShardData(avgdl=avgdl)
        if dl_pdf is not None and len(dl_pdf):
            dl_pdf = dl_pdf.sort_values("doc_id")
            sd.all_ids = dl_pdf["doc_id"].to_numpy(dtype=np.int64)
            sd.all_dls = dl_pdf["doc_len"].to_numpy(dtype=np.int64)
            for c in meta_cols:
                if c in dl_pdf.columns:
                    sd.meta[c] = dl_pdf[c].to_numpy(dtype=object)
            if dead is not None and sd.all_ids.size:
                live = ~_in_sorted(sd.all_ids, dead)
                sd.all_ids = sd.all_ids[live]
                sd.all_dls = sd.all_dls[live]
                for c in list(sd.meta):
                    sd.meta[c] = sd.meta[c][live]
        sd.postings.update(
            build_postings_bulk(seg_pdf, pos_terms, decode, dead)
        )
        frames = []
        for qid, node in nodes.items():
            ids, scores = evaluate(node, sd)
            kq = k[qid] if isinstance(k, dict) else k
            ids, scores = top_k(ids, scores, kq)
            frames.append(
                pd.DataFrame(
                    {"query_id": qid, "doc_id": ids, "score": scores}
                )
            )
        return pd.concat(frames, ignore_index=True) if frames else empty

    def kernel_plain(pdf: pd.DataFrame) -> pd.DataFrame:
        return eval_segments(pdf)

    def kernel_cogroup(
        seg_pdf: pd.DataFrame, dl_pdf: pd.DataFrame
    ) -> pd.DataFrame:
        return eval_segments(seg_pdf, dl_pdf)

    return kernel_cogroup if need_uni else kernel_plain


def _term_filter_parts(node: P.PNode):
    """-> (exact_terms set, expansion predicate Columns list) for the
    segment-scan term predicate. Split out so search_many can union
    the parts across a whole batch into ONE isin + a few ORs instead
    of per-query Column chains (py4j round trips are driver-serial
    and add up at high QPS)."""
    exact: set = set()
    preds: List = []

    def walk(n: P.PNode) -> None:
        if isinstance(n, P.PTerm):
            exact.add(n.term)
        elif isinstance(n, P.PPhrase):
            exact.update(n.terms)
        elif isinstance(n, P.PSynonym):
            exact.update(n.terms)
        elif isinstance(n, P.PExpand):
            preds.append(expand_condition(n))
        elif isinstance(n, P.PBool):
            for c in n.must + n.should + n.must_not:
                walk(c)
        elif isinstance(n, P.PDisMax):
            for c in n.children:
                walk(c)
        elif isinstance(n, (P.PNot, P.PBoost)):
            walk(n.child)

    walk(node)
    return exact, preds


def _term_filter(node: P.PNode, all_terms: List[str]):
    """Segment-scan predicate on the term column. Expansions use the
    shared pushdown predicate (exact IN below a threshold, else a
    StartsWith/range/length-band bound + JVM residual — never a huge
    enumerated IN list); terms and phrases contribute exact terms."""
    exact, preds = _term_filter_parts(node)
    cond = F.col("term").isin(sorted(exact)) if exact else None
    for p in preds:
        cond = p if cond is None else (cond | p)
    if cond is None:
        cond = F.col("term").isin(list(all_terms))
    return cond


# ------------------------------------------------------------ kernel


def _decode_block(
    row, decode=varbyte_decode, want_positions: bool = True
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, Optional[list]]:
    """-> (ids, tfs, dls, per-doc positions or None). Positions are
    decoded only when wanted and stored (the row may not even carry
    the positions columns when they are not wanted)."""
    gaps = decode(row.ids_delta).astype(np.int64)
    ids = row.doc_id_base + np.cumsum(gaps)
    tfs = decode(row.tfs).astype(np.int64)
    dls = decode(row.dls).astype(np.int64)
    poss = None
    if want_positions and row.pos_counts is not None:
        counts = decode(row.pos_counts).astype(np.int64)
        deltas = decode(row.positions).astype(np.int64)
        if counts.size == 0:
            poss = []
        else:
            # segmented cumsum in ONE pass: per-doc absolute
            # positions = global cumsum minus the carry at each
            # doc's segment start (a python loop of tiny np.cumsum
            # calls here dominated predecode at 640k docs)
            bounds = np.cumsum(counts)
            cs = np.cumsum(deltas)
            cs0 = np.concatenate((np.zeros(1, dtype=np.int64), cs))
            carry = cs0[np.concatenate(
                (np.zeros(1, dtype=np.int64), bounds[:-1])
            )]
            abs_pos = cs - np.repeat(carry, counts)
            poss = np.split(abs_pos, bounds[:-1])
    return ids, tfs, dls, poss


def _in_sorted(vals: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Membership mask of vals in a SORTED unique array (searchsorted,
    no hashing)."""
    if sorted_arr.size == 0:
        return np.zeros(vals.shape, dtype=bool)
    idx = np.searchsorted(sorted_arr, vals)
    idx[idx == sorted_arr.size] = 0
    return sorted_arr[idx] == vals


def _build_posting(
    rows: pd.DataFrame,
    want_positions: bool,
    decode=varbyte_decode,
    deleted: Optional[np.ndarray] = None,
) -> Posting:
    ids_l, tfs_l, dls_l, pos_l = [], [], [], []
    keep_pos = want_positions
    for row in rows.itertuples():
        ids, tfs, dls, poss = _decode_block(row, decode, want_positions)
        ids_l.append(ids)
        tfs_l.append(tfs)
        dls_l.append(dls)
        if poss is None:
            keep_pos = False
        else:
            pos_l.extend(poss)
    ids = np.concatenate(ids_l)
    tfs = np.concatenate(tfs_l)
    dls = np.concatenate(dls_l)
    if ids.size > 1 and (np.diff(ids) <= 0).any():
        # runs from different build partitions may interleave doc
        # ranges; evaluation requires ascending unique ids
        order = np.argsort(ids, kind="mergesort")
        ids, tfs, dls = ids[order], tfs[order], dls[order]
        if keep_pos:
            pos_l = [pos_l[i] for i in order]
    if deleted is not None and ids.size:
        # tombstones drop out at decode time, BEFORE any scoring or
        # pruning threshold — block upper bounds stored at build may
        # still reflect a deleted doc's tf, which only makes them
        # looser (still valid upper bounds), so pruning stays sound
        live = ~_in_sorted(ids, deleted)
        if not live.all():
            if keep_pos:
                pos_l = [p for p, m in zip(pos_l, live) if m]
            ids, tfs, dls = ids[live], tfs[live], dls[live]
    return Posting(
        ids=ids,
        tfs=tfs,
        dls=dls,
        positions=pos_l if keep_pos else None,
    )


def _csr_take(
    flat: np.ndarray, bounds: np.ndarray, take: np.ndarray
) -> Tuple[np.ndarray, np.ndarray]:
    """Row-gather on a CSR (flat, bounds) pair: keep rows `take` (an
    int index array, in output order) -> (new_flat, new_bounds with
    new_bounds[0] == 0). Fully vectorized."""
    lens = (bounds[1:] - bounds[:-1])[take]
    starts = bounds[:-1][take]
    nb = np.zeros(take.size + 1, dtype=np.int64)
    np.cumsum(lens, out=nb[1:])
    total = int(nb[-1])
    if total == 0:
        return np.empty(0, dtype=flat.dtype), nb
    idx = np.repeat(starts - nb[:-1], lens) + np.arange(
        total, dtype=np.int64
    )
    return flat[idx], nb


def build_postings_bulk(
    seg_pdf: pd.DataFrame,
    pos_terms,  # bool (all/none) | set of terms wanting positions
    decode=varbyte_decode,
    deleted: Optional[np.ndarray] = None,
) -> "Dict[str, Posting]":
    """Decode EVERY term's posting blocks in one vectorized pass.

    Varbyte is self-delimiting, so the concatenation of N block
    buffers decodes exactly like N separate decodes — one
    np.frombuffer + one vectorized decode for ALL blocks replaces
    the per-block Python loop (the loop dominated LocalSearcher
    predecode at 640k docs: ~750k blocks x per-call overhead).
    Per-block value counts come from counting terminal bytes (high
    bit clear) per block byte-range; per-block doc-id bases and
    per-doc position deltas are restored with segmented cumsums.
    Positions land in CSR shape (Posting.pos_flat/pos_bounds): one
    array object per term instead of one tiny array per doc.

    Non-varbyte codecs (bitpack blocks carry headers and are not
    concatenation-safe) fall back to the per-term loop."""
    out: Dict[str, Posting] = {}
    if len(seg_pdf) == 0:
        return out
    if decode is not varbyte_decode:
        for term, rows in seg_pdf.groupby("term", sort=True):
            want = (
                pos_terms
                if isinstance(pos_terms, bool)
                else str(term) in pos_terms
            )
            rows = rows.sort_values(["doc_id_base", "block_id"])
            out[str(term)] = _build_posting(rows, want, decode, deleted)
        return out
    if isinstance(pos_terms, bool):
        parts = [(seg_pdf, pos_terms)]
    else:
        m = seg_pdf["term"].astype(str).isin(pos_terms)
        parts = [(seg_pdf[m], True), (seg_pdf[~m], False)]
    for part, want in parts:
        if len(part):
            _bulk_varbyte_into(part, want, deleted, out)
    return out


def _bulk_varbyte_into(
    df: pd.DataFrame,
    want_positions: bool,
    deleted: Optional[np.ndarray],
    out: "Dict[str, Posting]",
) -> None:
    df = df.sort_values(
        ["term", "doc_id_base", "block_id"], kind="mergesort"
    )
    terms = df["term"].to_numpy(dtype=object)
    bases = df["doc_id_base"].to_numpy(dtype=np.int64)

    def _join(col: str):
        bufs = df[col].to_numpy()
        nb = len(bufs)
        lens = np.fromiter(
            (len(x) for x in bufs), dtype=np.int64, count=nb
        )
        offs = np.zeros(nb + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        return b"".join(bufs), offs

    joined, offs = _join("ids_delta")
    b8 = np.frombuffer(joined, dtype=np.uint8)
    ends = np.flatnonzero((b8 & np.uint8(0x80)) == 0)
    counts = np.diff(np.searchsorted(ends, offs))  # values per block
    gaps = varbyte_decode(joined).astype(np.int64)
    vstarts = np.zeros(counts.size + 1, dtype=np.int64)
    np.cumsum(counts, out=vstarts[1:])
    cs = np.cumsum(gaps)
    cs0 = np.concatenate((np.zeros(1, dtype=np.int64), cs))
    carry = cs0[vstarts[:-1]]
    ids_all = np.repeat(bases, counts) + cs - np.repeat(carry, counts)
    tfs_all = varbyte_decode(_join("tfs")[0]).astype(np.int64)
    dls_all = varbyte_decode(_join("dls")[0]).astype(np.int64)

    pos_flat = None
    pb = None
    if want_positions and df["pos_counts"].notna().all():
        pcounts = varbyte_decode(_join("pos_counts")[0]).astype(np.int64)
        pdeltas = varbyte_decode(_join("positions")[0]).astype(np.int64)
        pb = np.zeros(pcounts.size + 1, dtype=np.int64)
        np.cumsum(pcounts, out=pb[1:])
        pcs = np.cumsum(pdeltas)
        pcs0 = np.concatenate((np.zeros(1, dtype=np.int64), pcs))
        carry2 = pcs0[pb[:-1]]
        pos_flat = pcs - np.repeat(carry2, pcounts)

    # per-term block ranges -> per-term posting ranges
    tchange = np.flatnonzero(terms[1:] != terms[:-1]) + 1
    bb = np.concatenate(
        (
            np.zeros(1, dtype=np.int64),
            tchange,
            np.array([terms.size], dtype=np.int64),
        )
    )
    for i in range(bb.size - 1):
        blo, bhi = int(bb[i]), int(bb[i + 1])
        a, b = int(vstarts[blo]), int(vstarts[bhi])
        t_ids = ids_all[a:b]
        t_tfs = tfs_all[a:b]
        t_dls = dls_all[a:b]
        t_pf = pos_flat
        t_pb = pb[a : b + 1] if pb is not None else None
        if t_ids.size > 1 and (np.diff(t_ids) <= 0).any():
            # runs from different build partitions may interleave
            order = np.argsort(t_ids, kind="mergesort")
            t_ids, t_tfs, t_dls = t_ids[order], t_tfs[order], t_dls[order]
            if t_pf is not None:
                t_pf, t_pb = _csr_take(t_pf, t_pb, order)
        if deleted is not None and t_ids.size:
            live = ~_in_sorted(t_ids, deleted)
            if not live.all():
                keep = np.flatnonzero(live)
                t_ids, t_tfs, t_dls = (
                    t_ids[keep], t_tfs[keep], t_dls[keep],
                )
                if t_pf is not None:
                    t_pf, t_pb = _csr_take(t_pf, t_pb, keep)
        out[str(terms[blo])] = Posting(
            ids=t_ids,
            tfs=t_tfs,
            dls=t_dls,
            pos_flat=t_pf,
            pos_bounds=t_pb,
        )


def _weighted_term(c: P.PNode, factor: float = 1.0):
    """Unwrap PBoost chains around a PTerm into an equivalent PTerm
    with idf scaled by the boost product — BM25 is linear in idf, so
    bm25(idf)*f == bm25(idf*f) and the block upper bound scales the
    same way. -> PTerm or None."""
    while isinstance(c, P.PBoost):
        factor *= c.factor
        c = c.child
    if factor <= 0.0:
        return None  # zero/negative boost breaks upper-bound ordering
    if isinstance(c, P.PTerm):
        if factor == 1.0:
            return c
        return P.PTerm(c.term, c.idf * factor, c.avgdl, c.tw, c.sim)
    return None


def _flat_terms(node: P.PNode):
    """If node is (possibly boosted) PBool of only (possibly boosted)
    PTerm children (no must_not, no min_should beyond default) return
    ('or'|'and', [PTerm...]) with boosts folded into each idf.

    A repeated term (``import AND import``) must contribute its score
    once per clause; the pruned kernel keys postings by term string and
    would collapse the multiplicity (and, for AND, wrongly conclude a
    term is missing from the shard). Bail to the exhaustive evaluator,
    which walks the clause list as-is, whenever duplicates exist."""
    outer = 1.0
    while isinstance(node, P.PBoost):
        outer *= node.factor
        node = node.child
    res = None
    if isinstance(node, P.PBool) and not node.must_not:
        if node.must and not node.should:
            kids = [_weighted_term(c, outer) for c in node.must]
            if all(k is not None for k in kids):
                res = "and", kids
        elif node.should and not node.must and node.min_should <= 1:
            kids = [_weighted_term(c, outer) for c in node.should]
            if all(k is not None for k in kids):
                res = "or", kids
    else:
        k = _weighted_term(node, outer)
        if k is not None:
            res = "or", [k]
    if res is not None and len({t.term for t in res[1]}) != len(res[1]):
        return None
    return res


def _make_kernel(
    node: P.PNode,
    avgdl: float,
    k: int,
    prune: bool,
    need_uni: bool,
    meta_cols: List[str],
    decode=varbyte_decode,
    deleted=None,  # None | sorted np.ndarray | "dl" sentinel
    meta_out: "Optional[List[str]]" = None,
    stats_acc=None,  # (total_blocks, decoded_blocks) accumulators
):
    flat = _flat_terms(node) if prune else None
    want_pos = P.needs_positions(node)
    meta_out = meta_out or []

    def _empty_out() -> pd.DataFrame:
        out = pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": "int64", "score": "float64"}
        )
        for c in meta_out:
            out[c] = pd.Series([], dtype=object)
        return out

    def eval_segments(seg_pdf: pd.DataFrame, dl_pdf=None) -> pd.DataFrame:
        if len(seg_pdf) == 0 and dl_pdf is None:
            return _empty_out()
        dead = _local_deleted(deleted, dl_pdf)
        sd = ShardData(avgdl=avgdl)
        if dl_pdf is not None and len(dl_pdf):
            dl_pdf = dl_pdf.sort_values("doc_id")
            sd.all_ids = dl_pdf["doc_id"].to_numpy(dtype=np.int64)
            sd.all_dls = dl_pdf["doc_len"].to_numpy(dtype=np.int64)
            for c in meta_cols:
                if c in dl_pdf.columns:
                    sd.meta[c] = dl_pdf[c].to_numpy(dtype=object)
            if dead is not None and sd.all_ids.size:
                live = ~_in_sorted(sd.all_ids, dead)
                sd.all_ids = sd.all_ids[live]
                sd.all_dls = sd.all_dls[live]
                for c in list(sd.meta):
                    sd.meta[c] = sd.meta[c][live]

        groups = dict(tuple(seg_pdf.groupby("term", sort=True)))

        # profiling: ship this worker's block counters to the driver
        # (the module counters are worker-local; accumulators are the
        # only channel back — captured in the kernel closure)
        if stats_acc is not None:
            _snap = dict(_PRUNE_STATS)

        if flat is not None and len(groups) > 1:
            ids, scores = _eval_flat_pruned(
                flat, groups, sd, k, decode, dead
            )
            if stats_acc is not None:
                stats_acc[0].add(
                    _PRUNE_STATS["total_blocks"] - _snap["total_blocks"]
                )
                stats_acc[1].add(
                    _PRUNE_STATS["decoded_blocks"]
                    - _snap["decoded_blocks"]
                )
        else:
            if stats_acc is not None:
                nb = sum(len(r) for r in groups.values())
                stats_acc[0].add(nb)
                stats_acc[1].add(nb)  # exhaustive path decodes all
            # one vectorized decode for every term's blocks (a term
            # may arrive as several disjoint doc-range runs from
            # different build partitions; the bulk builder restores
            # ascending ids per term)
            sd.postings.update(
                build_postings_bulk(seg_pdf, bool(want_pos), decode, dead)
            )
            ids, scores = evaluate(node, sd)
        ids, scores = top_k(ids, scores, k)
        out = pd.DataFrame({"doc_id": ids, "score": scores})
        if meta_out:
            if dl_pdf is not None and len(dl_pdf) and len(out):
                # dl_pdf is doc_id-sorted above; positional lookup of
                # the local top-k ids (every id came from this slice)
                dl_ids = dl_pdf["doc_id"].to_numpy(dtype=np.int64)
                pos = np.searchsorted(dl_ids, ids)
                for c in meta_out:
                    out[c] = dl_pdf[c].to_numpy()[pos]
            else:
                for c in meta_out:
                    out[c] = pd.Series([None] * len(out), dtype=object)
        return out

    def kernel_plain(pdf: pd.DataFrame) -> pd.DataFrame:
        return eval_segments(pdf)

    def kernel_cogroup(seg_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
        return eval_segments(seg_pdf, dl_pdf)

    return kernel_cogroup if need_uni else kernel_plain


def _eval_flat_pruned(
    flat,
    groups,
    sd: ShardData,
    k: int,
    decode=varbyte_decode,
    deleted: Optional[np.ndarray] = None,
) -> Tuple[np.ndarray, np.ndarray]:
    """Block-max pruned evaluation of flat AND/OR over PTerms.
    Counts decoded blocks in _PRUNE_STATS for testability. Block
    upper bounds are completed here from the stored max_tf and the
    plan-time weight (scoring.term_upper_bound, per the plan's
    similarity)."""
    kind, pterms = flat
    terms = {t.term: t for t in pterms}

    def _adl(t: str) -> float:
        # per-field norms: a field term carries its field's avgdl
        return terms[t].avgdl or sd.avgdl
    # per-term block tables present in this shard
    avail = {}
    for term, rows in groups.items():
        term = str(term)
        if term in terms:
            avail[term] = rows.sort_values(["doc_id_base", "block_id"])
    if kind == "and" and len(avail) < len(pterms):
        return np.empty(0, np.int64), np.empty(0, np.float64)
    if not avail:
        return np.empty(0, np.int64), np.empty(0, np.float64)

    from lucille_spark.scoring import term_score_np

    def _score(t: str, tfs, dls):
        pt = terms[t]
        return term_score_np(pt.sim, tfs, dls, pt.idf, _adl(t), pt.tw)

    stats = _PRUNE_STATS
    stats["total_blocks"] += sum(len(r) for r in avail.values())

    if kind == "and":
        # decode rarest term (fewest postings) fully
        order = sorted(avail, key=lambda t: int(avail[t]["n_docs"].sum()))
        first = order[0]
        p = _build_posting(avail[first], False, decode, deleted)
        stats["decoded_blocks"] += len(avail[first])
        cand_ids = p.ids
        score = _score(first, p.tfs, p.dls)
        for t in order[1:]:
            rows = avail[t]
            if cand_ids.size == 0:
                return np.empty(0, np.int64), np.empty(0, np.float64)
            sel = _blocks_overlapping(rows, cand_ids)
            stats["decoded_blocks"] += int(sel.sum())
            if not sel.any():
                return np.empty(0, np.int64), np.empty(0, np.float64)
            pt = _build_posting(rows[sel], False, decode, deleted)
            common, ia, ib = np.intersect1d(
                cand_ids, pt.ids, assume_unique=True, return_indices=True
            )
            cand_ids = common
            score = score[ia] + _score(t, pt.tfs[ib], pt.dls[ib])
        return cand_ids, score

    # kind == 'or': MaxScore with candidate-restricted tail decoding.
    # Invariant at iteration i: `remaining` = sum of ubs over
    # order[i:]. A doc matching ONLY tail terms is bounded by
    # `remaining`; once the k-th accumulated (partial, hence lower
    # bound) score exceeds it, tail terms need only update docs
    # already in the accumulator — decoding just blocks whose doc
    # range overlaps the candidates.
    from lucille_spark.scoring import term_upper_bound

    ubs = {
        t: term_upper_bound(
            terms[t].sim,
            int(avail[t]["max_tf"].max()),
            terms[t].idf,
            terms[t].tw,
        )
        for t in avail
    }
    order = sorted(avail, key=lambda t: -ubs[t])
    acc_ids = np.empty(0, np.int64)
    acc_sc = np.empty(0, np.float64)
    remaining = sum(ubs.values())
    for i, t in enumerate(order):
        threshold = -np.inf
        if acc_ids.size >= k:
            threshold = np.partition(acc_sc, acc_sc.size - k)[
                acc_sc.size - k
            ]
        if threshold > remaining:
            for t2 in order[i:]:
                rows = avail[t2]
                if acc_ids.size == 0:
                    break
                sel = _blocks_overlapping(rows, acc_ids)
                stats["decoded_blocks"] += int(sel.sum())
                if not sel.any():
                    continue
                pt = _build_posting(rows[sel], False, decode, deleted)
                common, ia, ib = np.intersect1d(
                    acc_ids, pt.ids, assume_unique=True, return_indices=True
                )
                if common.size:
                    acc_sc[ia] += _score(t2, pt.tfs[ib], pt.dls[ib])
            return acc_ids, acc_sc
        rows = avail[t]
        stats["decoded_blocks"] += len(rows)
        pt = _build_posting(rows, False, decode, deleted)
        sc = _score(t, pt.tfs, pt.dls)
        acc_ids, acc_sc = _merge_acc(acc_ids, acc_sc, pt.ids, sc)
        remaining -= ubs[t]
    return acc_ids, acc_sc


def _merge_acc(ids_a, sc_a, ids_b, sc_b):
    if ids_a.size == 0:
        return ids_b, sc_b
    all_ids = np.union1d(ids_a, ids_b)
    out = np.zeros(all_ids.size, dtype=np.float64)
    pa = np.searchsorted(all_ids, ids_a)
    out[pa] += sc_a
    pb = np.searchsorted(all_ids, ids_b)
    out[pb] += sc_b
    return all_ids, out


def _blocks_overlapping(rows: pd.DataFrame, cand_ids: np.ndarray) -> np.ndarray:
    """Boolean mask of blocks whose exact [doc_id_base, doc_id_max]
    range contains at least one candidate id."""
    base = rows["doc_id_base"].to_numpy(dtype=np.int64)
    hi = rows["doc_id_max"].to_numpy(dtype=np.int64)
    # a candidate exists in [base, hi] iff searchsorted moves
    lo_pos = np.searchsorted(cand_ids, base, side="left")
    hi_pos = np.searchsorted(cand_ids, hi, side="right")
    return hi_pos > lo_pos


_PRUNE_STATS = {"total_blocks": 0, "decoded_blocks": 0}


def reset_prune_stats():
    _PRUNE_STATS["total_blocks"] = 0
    _PRUNE_STATS["decoded_blocks"] = 0


def get_prune_stats():
    return dict(_PRUNE_STATS)
