"""Meta-blocking: token blocking, block purging, blocking-graph
weights (CBS and JS), and WEP/WNP pruning — each checked against a
naive in-Python recomputation on the same rows."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import meta_blocking as MB
from idd_hw6_record_linkage_spark.operators.blocking import purge_blocks

DOCS = [
    # (id, text) — crafted so token blocks overlap non-trivially.
    (1, "alpha beta gamma delta"),
    (2, "alpha beta gamma epsilon"),
    (3, "alpha beta zeta eta"),
    (4, "theta iota kappa alpha"),
    (5, "theta iota kappa lambda"),
    (6, "solo unique tokens only"),
    (7, None),
    (8, "  alpha   beta\tgamma  "),  # whitespace runs + padding
    (9, "tiny up to it at"),  # all tokens under min length
]


def naive_keys(min_len=4, max_chars=None):
    out = set()
    for i, t in DOCS:
        if t is None:
            continue
        if max_chars is not None:
            t = t[:max_chars]
        for tok in set(t.strip().split()):
            if len(tok) >= min_len:
                out.add((i, tok))
    return out


def naive_graph(keys, scheme="cbs"):
    by_block: dict[str, set[int]] = {}
    by_id: dict[int, set[str]] = {}
    for i, k in keys:
        by_block.setdefault(k, set()).add(i)
        by_id.setdefault(i, set()).add(k)
    w: dict[tuple[int, int], float] = {}
    for ids in by_block.values():
        for a, b in itertools.combinations(sorted(ids), 2):
            w[(a, b)] = w.get((a, b), 0) + 1
    if scheme == "js":
        w = {
            (a, b): c / len(by_id[a] | by_id[b])
            for (a, b), c in w.items()
        }
    return w


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_token_blocking_matches_naive(spark, docs):
    got = {
        (r["id"], r["block_key"])
        for r in MB.token_blocking(docs, "doc_id", "text").collect()
    }
    assert got == naive_keys()
    # max_chars truncation applies before tokenizing
    got12 = {
        (r["id"], r["block_key"])
        for r in MB.token_blocking(
            docs, "doc_id", "text", max_chars=12
        ).collect()
    }
    assert got12 == naive_keys(max_chars=12)


def test_purge_blocks_bounds(spark, docs):
    keys = MB.token_blocking(docs, "doc_id", "text")
    purged = purge_blocks(keys, "block_key", min_size=2, max_size=3)
    sizes = {
        r["block_key"]: r["n"]
        for r in purged.groupBy("block_key")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert sizes and all(2 <= n <= 3 for n in sizes.values())
    # 'alpha' occurs in docs 1,2,3,4,8 (size 5) -> purged out
    assert "alpha" not in sizes
    # singleton tokens ('delta', 'solo', ...) are gone too
    assert "solo" not in sizes


@pytest.mark.parametrize("scheme", ["cbs", "js"])
def test_blocking_graph_matches_naive(spark, docs, scheme):
    keys = purge_blocks(
        MB.token_blocking(docs, "doc_id", "text"), "block_key",
        min_size=2, max_size=100,
    )
    naive = naive_graph(
        {(r["id"], r["block_key"]) for r in keys.collect()}, scheme
    )
    got = {
        (r["id_l"], r["id_r"]): r["weight"]
        for r in MB.blocking_graph(keys, scheme).collect()
    }
    assert set(got) == set(naive)
    for p, w in naive.items():
        assert got[p] == pytest.approx(w, abs=1e-12)


@pytest.mark.parametrize("scheme", ["cbs", "js"])
def test_pruning_matches_naive(spark, docs, scheme):
    keys = purge_blocks(
        MB.token_blocking(docs, "doc_id", "text"), "block_key",
        min_size=2, max_size=100,
    )
    naive = naive_graph(
        {(r["id"], r["block_key"]) for r in keys.collect()}, scheme
    )
    edges = MB.blocking_graph(keys, scheme)

    mean = sum(naive.values()) / len(naive)
    wep = {p for p, w in naive.items() if w >= mean}
    got_wep = {
        (r["id_l"], r["id_r"]) for r in MB.prune_wep(edges).collect()
    }
    assert got_wep == wep

    node_w: dict[int, list[float]] = {}
    for (a, b), w in naive.items():
        node_w.setdefault(a, []).append(w)
        node_w.setdefault(b, []).append(w)
    avg = {n: sum(ws) / len(ws) for n, ws in node_w.items()}
    wnp = {
        (a, b)
        for (a, b), w in naive.items()
        if w >= min(avg[a], avg[b])
    }
    got_wnp = {
        (r["id_l"], r["id_r"]) for r in MB.prune_wnp(edges).collect()
    }
    assert got_wnp == wnp
    # WNP keeps every node's own best edge, so all connected nodes stay
    assert {n for p in got_wnp for n in p} == set(avg)


def test_bad_scheme_raises(spark, docs):
    keys = MB.token_blocking(docs, "doc_id", "text")
    with pytest.raises(ValueError, match="scheme"):
        MB.blocking_graph(keys, "arcs")


def test_purging_bounds_pair_blowup(spark):
    """A stopword-like mega-block (one token in every record) must not
    reach the self-join: with max_block_size below the corpus size the
    pair count stays linear-ish, not ~n^2/2."""
    n = 400
    rows = [(i, f"stopword tok{i % 20}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    keys = purge_blocks(
        MB.token_blocking(df, "doc_id", "text"), "block_key",
        min_size=2, max_size=50,
    )
    edges = MB.blocking_graph(keys, "cbs")
    # only the 20 tok* blocks of size 20 survive: 20 * C(20,2) pairs
    assert edges.count() == 20 * (20 * 19 // 2)


def test_rare_token_keys_matches_naive(spark, docs):
    keys = MB.token_blocking(docs, "doc_id", "text")
    got = {
        (r.id, r.block_key, r.df)
        for r in MB.rare_token_keys(keys, k=2).collect()
    }
    nk = naive_keys()
    df_by_tok: dict[str, int] = {}
    for _, tok in nk:
        df_by_tok[tok] = df_by_tok.get(tok, 0) + 1
    want = set()
    for i in {i for i, _ in nk}:
        toks = sorted(
            (tok for j, tok in nk if j == i),
            key=lambda t: (df_by_tok[t], t),
        )[:2]
        want |= {(i, t, df_by_tok[t]) for t in toks}
    assert got == want


def test_rare_token_keys_self_bounding(spark):
    """A stopword token (df = n) is never selected; every surviving
    block's size is <= its token's df, which is small by construction;
    and no tokened record is orphaned (unlike purging)."""
    n = 300
    rows = [(i, f"stopword pair{i // 2} trio{i // 3}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    keys = MB.token_blocking(df, "doc_id", "text")
    rare = MB.rare_token_keys(keys, k=2).collect()
    toks = {r.block_key for r in rare}
    assert "stopword" not in toks  # df=n, never among the 2 rarest
    assert {r.id for r in rare} == set(range(n))  # nobody orphaned
    sizes: dict[str, int] = {}
    dfs: dict[str, int] = {}
    for r in rare:
        sizes[r.block_key] = sizes.get(r.block_key, 0) + 1
        dfs[r.block_key] = r.df
    assert all(sizes[t] <= dfs[t] <= 3 for t in sizes)
