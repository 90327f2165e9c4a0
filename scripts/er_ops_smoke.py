"""Scale smoke for the entity-resolution operator family added in
round 5: synthesize multi-million-row inputs (deterministic, no
external data), run sorted-neighborhood blocking, meta-blocking,
mutual-best 1:1 resolution, survivorship, batch attachment, record
retraction, the match-rule waterfall, cluster audit, B-cubed and the
threshold sweep end-to-end, and print one timing row each plus sanity
counters (every section's expected counts are closed-form).

Usage: python scripts/er_ops_smoke.py [n_records] [cpus]
Defaults: 2_000_000 records, 32 cores. Prints one JSON line at the end.

Sizing notes: meta-blocking runs on a 1/10 slice with a ~1M-token
vocabulary — token blocking's co-occurrence table is the one inherently
pair-heavy stage (Σ_b C(n_b, 2)); the slice keeps the smoke's heavy
stage at ~10⁷ pair-block rows, which is the shape that matters, not the
absolute count. Everything stages through parquet, not localCheckpoint
(see corpus_ops_smoke.py for the measured heap rationale).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from pyspark.sql import functions as F

    from idd_hw6_record_linkage_spark.operators import (
        attach,
        blocking,
        cluster_audit,
        evaluation,
        meta_blocking as MB,
        resolution,
        sorted_neighborhood as SN,
        survivorship,
    )
    from idd_hw6_record_linkage_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name="er-smoke",
                      shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")

    def h(col, mod):
        return (F.xxhash64(col) % mod + mod) % mod

    # Records: ~4-member entities (id // 4), a 16-char sort key shared
    # per entity with a per-record suffix (sorted-neighborhood food),
    # 30 tokens from a ~1M vocabulary with 10 entity-shared tokens
    # (meta-blocking food).
    recs = (
        spark.range(n)
        .withColumnRenamed("id", "rid")
        .withColumn("eid", (F.col("rid") / 4).cast("long"))
        .withColumn(
            "sort_key",
            F.concat(
                F.lpad(h(F.col("eid"), 10_000_000).cast("string"), 9, "0"),
                F.lit("-"),
                (F.col("rid") % 4).cast("string"),
            ),
        )
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(29)),
                    lambda j: F.concat(
                        F.lit("t"),
                        F.when(
                            j < 10,
                            h(F.col("eid") * 16 + j, 1_000_000),
                        )
                        .otherwise(h(F.col("rid") * 64 + j, 1_000_000))
                        .cast("string"),
                    ),
                ),
                " ",
            ),
        )
        .withColumn("lang", F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
            (h(F.col("rid"), 3) + 1).cast("int")))
        .withColumn("n_chars", F.length("text"))
    )
    stage = tempfile.mkdtemp(prefix="er_smoke_")
    recs.write.mode("overwrite").parquet(f"{stage}/recs")
    recs = spark.read.parquet(f"{stage}/recs")
    n_actual = recs.count()
    out: dict = {"n_records": n_actual, "cpus": cpus}

    t0 = time.time()
    sn = SN.sorted_neighborhood_pairs(recs, "rid", "sort_key", window=4)
    out["sn_pairs"] = sn.count()
    out["sn_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    slice10 = recs.where(F.col("rid") % 10 == 0)
    keys = blocking.purge_blocks(
        MB.token_blocking(slice10, "rid", "text", min_token_len=2),
        "block_key",
        min_size=2,
        max_size=200,
    )
    wnp = MB.prune_wnp(MB.blocking_graph(keys, "cbs"))
    out["mb_edges_kept"] = wnp.count()
    out["mb_sec"] = round(time.time() - t0, 1)

    # Scored cross-slice pairs: every record of entity e on the "new"
    # side (rid%4==0) scores against the other members (same eid) plus
    # hash-noise candidates; score favors the true entity.
    t0 = time.time()
    newside = recs.where(F.col("rid") % 4 == 0).select(
        F.col("rid").alias("id_new"), F.col("eid").alias("e_new")
    )
    oldside = recs.where(F.col("rid") % 4 != 0).select(
        F.col("rid").alias("id_old"), F.col("eid").alias("e_old")
    )
    n_buckets = max(n // 4, 1)
    true_pairs = newside.join(oldside, F.col("e_new") == F.col("e_old"))
    noise_pairs = newside.withColumn(
        "__b", h(F.col("id_new") * 13, n_buckets)
    ).join(
        oldside.withColumn("__b", h(F.col("id_old") * 7, n_buckets)),
        "__b",
    )
    scored = (
        true_pairs.unionByName(noise_pairs.drop("__b"))
        .withColumn(
            "score",
            F.when(F.col("e_new") == F.col("e_old"), 0.9).otherwise(
                (h(F.col("id_new") * 31 + F.col("id_old"), 1000)
                 / 1000.0) * 0.6
            ),
        )
        .groupBy("id_new", "id_old")
        .agg(F.max("score").alias("score"))
    )
    scored.write.mode("overwrite").parquet(f"{stage}/scored")
    scored = spark.read.parquet(f"{stage}/scored")
    out["scored_pairs"] = scored.count()
    out["scored_build_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    mbm = resolution.mutual_best_match(scored, "id_new", "id_old", "score")
    out["mutual_best"] = mbm.count()
    out["mutual_best_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    clusters = recs.select(
        F.col("rid").alias("url"), F.col("eid").alias("entity_id")
    )
    golden = survivorship.consolidate_clusters(
        recs.select(
            F.col("eid").alias("entity_id"), "rid", "text", "lang", "n_chars"
        ),
        "entity_id",
        {"rid": "min", "text": "longest", "lang": "mode", "n_chars": "max"},
    )
    out["golden_rows"] = golden.count()
    out["survivorship_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    att = attach.attach_to_clusters(
        scored,
        clusters.where(F.col("url") % 4 != 0),
        newside.select(F.col("id_new").alias("url")),
        threshold=0.5,
        new_col="id_new",
        old_col="id_old",
    )
    out["attached"] = att.where("attached").count()
    out["attach_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    edges = recs.where(F.col("rid") % 4 != 0).select(
        F.col("rid").alias("id_l"),
        (F.col("eid") * 4).alias("id_r"),  # chain to the entity root
    )
    audit = cluster_audit.cluster_quality(clusters, edges)
    out["suspect_clusters"] = audit.where("suspect").count()
    out["cluster_audit_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    pred = clusters
    truth = recs.select(
        F.col("rid").alias("url"),
        ((F.col("rid") / 8).cast("long")).alias("truth_id"),  # coarser
    )
    b3 = evaluation.bcubed(pred, truth).collect()[0]
    out["bcubed_f1"] = float(b3["bcubed_f1"])
    out["bcubed_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    truth_pairs = oldside.join(
        newside, F.col("e_new") == F.col("e_old")
    ).select(
        F.col("id_new").alias("id_l"), F.col("id_old").alias("id_r")
    )
    sweep = evaluation.threshold_sweep(
        scored.withColumnsRenamed({"id_new": "id_l", "id_old": "id_r"}),
        truth_pairs,
        [0.3, 0.5, 0.7],
    )
    out["sweep_rows"] = sweep.count()
    out["sweep_sec"] = round(time.time() - t0, 1)

    # Rare-token blocking on the same 1/10 slice meta-blocking used:
    # every record keeps exactly k=2 keys (30 distinct tokens each, all
    # >= min length), so n_keys == 2 * |slice| by construction; the
    # selected doc-frequencies stay tiny (mostly-unique vocabulary), so
    # the max surviving block size — bounded by the max selected df —
    # is the self-bounding property on display at scale.
    t0 = time.time()
    rare = MB.rare_token_keys(
        MB.token_blocking(slice10, "rid", "text", min_token_len=2), k=2
    )
    rt = rare.agg(
        F.count("*").alias("n"), F.max("df").alias("max_df")
    ).collect()[0]
    out["rare_token_keys"] = int(rt["n"])
    out["rare_token_max_df"] = int(rt["max_df"])
    out["rare_token_sec"] = round(time.time() - t0, 1)

    # Cannot-link constraint audit at full width: one same-entity pair
    # per entity (always violated: clusters ARE the entities) plus one
    # cross-entity pair (never violated; the last entity's cross pair
    # dangles to a missing id -> NULL cluster -> false, not NULL).
    t0 = time.time()
    ents = spark.range(n_actual // 4).withColumnRenamed("id", "eid")
    cons = ents.select(
        (F.col("eid") * 4).alias("id_l"), (F.col("eid") * 4 + 1).alias("id_r")
    ).unionByName(
        ents.select(
            (F.col("eid") * 4).alias("id_l"),
            (F.col("eid") * 4 + 4).alias("id_r"),
        )
    )
    chk = cluster_audit.constraint_check(clusters, cons)
    out["constraints"] = chk.count()
    out["constraint_violations"] = chk.where("violated").count()
    out["constraint_sec"] = round(time.time() - t0, 1)

    # Graph audit + precision repair at full width: per-entity K4
    # cliques (6 edges, every edge in exactly 2 triangles) chained by
    # one weak bridge per entity (score 0.55, zero triangles). Closed
    # forms: n_edges = 6·E + (E−1); Σ n_triangles = 12·E (4 triangles
    # × 3 edges per K4); bridges = E−1 = the zero-support edges;
    # filter_weak_bridges keeps exactly the 6·E clique edges; CC over
    # the repaired graph yields exactly E clusters — without the
    # repair the bridges chain ALL entities into one mega-cluster.
    from idd_hw6_record_linkage_spark.operators import clustering as CL

    t0 = time.time()
    n_ent = n_actual // 4
    combos = [(i, j) for i in range(4) for j in range(4) if i < j]
    k4 = ents.select(
        "eid",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
                    for i, j in combos
                ]
            )
        ).alias("c"),
    ).select(
        (F.col("eid") * 4 + F.col("c.i")).alias("id_l"),
        (F.col("eid") * 4 + F.col("c.j")).alias("id_r"),
        F.lit(0.95).alias("score"),
    )
    bridges = ents.where(F.col("eid") < n_ent - 1).select(
        (F.col("eid") * 4).alias("id_l"),
        (F.col("eid") * 4 + 4).alias("id_r"),
        F.lit(0.55).alias("score"),
    )
    k4.unionByName(bridges).write.mode("overwrite").parquet(f"{stage}/graph")
    graph_edges = spark.read.parquet(f"{stage}/graph")

    tri = CL.triangle_support(graph_edges.select("id_l", "id_r"))
    ts = tri.agg(
        F.count("*").alias("n_edges"),
        F.sum("n_triangles").alias("tri_sum"),
        F.sum((F.col("n_triangles") == 0).cast("long")).alias("n_bridges"),
    ).collect()[0]
    out["graph_edges"] = int(ts["n_edges"])
    out["graph_tri_sum"] = int(ts["tri_sum"])
    out["graph_bridges"] = int(ts["n_bridges"])
    out["triangle_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    kept = CL.filter_weak_bridges(graph_edges, min_bridge_score=0.8)
    out["graph_kept_edges"] = kept.count()
    cc = CL.clusters_from_edges(
        kept,
        recs.select(F.col("rid").alias("doc_id")),
        id_col="doc_id",
    )
    out["graph_clusters"] = cc.select("entity_id").distinct().count()
    out["bridge_repair_sec"] = round(time.time() - t0, 1)

    # ---- PassJoin exact edit-distance self-join ------------------------
    # 4-record entities over 16-char md5-hex keys: variant 0 is the
    # base, variants 1-3 substitute one DISJOINT-alphabet char ('x'/'y'
    # /'z' — never hex) at positions 0/5/10, so within an entity
    # base↔variant is lev=1 and variant↔variant lev=2 — every C(4,2)=6
    # pair is ≤ d=2 by construction, and cross-entity keys are 16
    # independent hex chars (lev ≤ 2 needs 14+ agreeing positions;
    # never happens). Closed form: pairs == 6 · n_entities. Runs on a
    # 1/2 slice: the probe explode is the pair-heavy stage
    # (≤ (2d+1)²(d+1) = 75 rows/record), same shape at any n.
    from idd_hw6_record_linkage_spark.operators import edit_join as EJ

    t0 = time.time()
    m = n // 2
    ej_in = (
        spark.range(m)
        .select(
            F.col("id").alias("rid"),
            (F.col("id") / 4).cast("long").alias("ent"),
            (F.col("id") % 4).cast("int").alias("v"),
        )
        .select(
            "rid",
            F.when(
                F.col("v") == 0,
                F.substring(F.md5(F.col("ent").cast("string")), 1, 16),
            )
            .otherwise(
                F.overlay(
                    F.substring(F.md5(F.col("ent").cast("string")), 1, 16),
                    F.element_at(
                        F.array(F.lit("x"), F.lit("y"), F.lit("z")),
                        F.col("v"),
                    ),
                    (F.col("v") - 1) * 5 + 1,
                    F.lit(1),
                )
            )
            .alias("key"),
        )
    )
    ej = EJ.edit_distance_self_join(ej_in, "rid", "key", d=2)
    out["edit_join_pairs"] = ej.count()
    out["edit_join_expected"] = 6 * (m // 4)
    out["edit_join_sec"] = round(time.time() - t0, 1)

    # ---- Editex phonetic kernel over planted variant pairs -------------
    # n/2 pairs of 16-char md5-hex keys where the right side substitutes
    # 'x' at position 6. 'x' shares no phonetic group with any hex char
    # and is not h/w, a deletion+insertion detour costs >= 2, and the
    # substitution costs exactly 2 — so BOTH production editex and the
    # unit-cost mode equal 2 on every pair (lev = 1), a closed form any
    # kernel or retirement bug breaks. Measures Arrow-batch throughput
    # of the min-plus DP at scale.
    from idd_hw6_record_linkage_spark.functions.editex import (
        editex_distance,
        editex_unit_distance,
    )

    t0 = time.time()
    m = n // 2
    ex_pairs = spark.range(m).select(
        F.substring(F.md5(F.col("id").cast("string")), 1, 16).alias("a"),
        F.overlay(
            F.substring(F.md5(F.col("id").cast("string")), 1, 16),
            F.lit("x"),
            6,
            F.lit(1),
        ).alias("b"),
    )
    ex = ex_pairs.select(
        editex_distance("a", "b").alias("d"),
        editex_unit_distance("a", "b").alias("u"),
    ).agg(
        F.count("*").alias("n"),
        F.sum((F.col("d") != 2).cast("long")).alias("bad_prod"),
        F.sum((F.col("u") != 2).cast("long")).alias("bad_unit"),
    ).collect()[0]
    out["editex_pairs"] = ex["n"]
    out["editex_bad_prod"] = ex["bad_prod"]
    out["editex_bad_unit"] = ex["bad_unit"]
    out["editex_sec"] = round(time.time() - t0, 1)

    # ---- Match-rule waterfall over planted pair buckets -----------------
    # m pairs in four equal closed-form buckets by id%4:
    #   0: identical 12-char name            -> rule 1 (exact_name)
    #   1: 'x' overlaid at pos 3 (lev = 1,   -> rule 2 (tight_edit)
    #      'x' is outside the hex alphabet)
    #   2: name all-'z' (lev = 12 > 2),      -> rule 3 (same_zip)
    #      zip equal
    #   3: name all-'z', zip overlaid 'q'    -> no rule (NULL)
    # Buckets 0-2 all keep zip equal, so first-true-wins is exercised:
    # a rule-priority bug (or CASE-order regression) shifts the counts.
    # The cascade is ONE map-only CASE chain — this measures that
    # provenance costs ~a column scan, nothing more.
    from idd_hw6_record_linkage_spark.operators.match_rules import (
        apply_match_rules,
        rule_stats,
    )

    t0 = time.time()
    m = (n // 2) // 4 * 4
    base = F.substring(F.md5(F.col("id").cast("string")), 1, 12)
    zbase = F.substring(F.md5((F.col("id") + 7).cast("string")), 1, 5)
    mr_pairs = spark.range(m).select(
        base.alias("name_l"),
        F.when(F.col("id") % 4 == 0, base)
        .when(F.col("id") % 4 == 1, F.overlay(base, F.lit("x"), 3, F.lit(1)))
        .otherwise(F.lit("z" * 12))
        .alias("name_r"),
        zbase.alias("zip_l"),
        F.when(F.col("id") % 4 == 3, F.overlay(zbase, F.lit("q"), 1, F.lit(1)))
        .otherwise(zbase)
        .alias("zip_r"),
    )
    wf = apply_match_rules(
        mr_pairs,
        [
            ("exact_name", F.col("name_l") == F.col("name_r")),
            ("tight_edit", F.levenshtein("name_l", "name_r") <= 2),
            ("same_zip", F.col("zip_l") == F.col("zip_r")),
        ],
    )
    stats = {
        (r["matched_rule"] or "-"): r["n_pairs"]
        for r in rule_stats(wf).collect()
    }
    out["match_rules_pairs"] = m
    out["match_rules_bad"] = sum(
        abs(stats.get(k, 0) - m // 4)
        for k in ("exact_name", "tight_edit", "same_zip", "-")
    )
    out["match_rules_sec"] = round(time.time() - t0, 1)

    # ---- Record retraction over a resolved 4-member-chain corpus --------
    # n/4 entities, members e_m0..e_m3 linked as a path (3 edges each);
    # the resolved assignment is closed-form (label = _m0 member), so
    # the section times ONLY the retraction repair. Remove _m1 of every
    # 8th entity: each such chain splits into {_m0} and {_m2,_m3} —
    # rows out = n − n/32, distinct labels = n/4 + n/32, both exact.
    # The repair CC runs on n/32 two-node edges regardless of corpus
    # size — the affected-subgraph-only claim, measured.
    from idd_hw6_record_linkage_spark.operators.retract import (
        retract_records,
    )

    t0 = time.time()
    ents = n // 4
    ent = F.format_string("e%08d", F.col("id"))
    members = spark.range(ents).select(
        F.explode(
            F.array(*[F.concat(ent, F.lit(f"_m{i}")) for i in range(4)])
        ).alias("url"),
        F.concat(ent, F.lit("_m0")).alias("entity_id"),
    )
    chain_edges = spark.range(ents).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.concat(ent, F.lit(f"_m{i}")).alias("id_l"),
                        F.concat(ent, F.lit(f"_m{i + 1}")).alias("id_r"),
                    )
                    for i in range(3)
                ]
            )
        ).alias("e")
    ).select("e.id_l", "e.id_r")
    rm = (
        spark.range(ents)
        .where(F.col("id") % 8 == 0)
        .select(F.concat(ent, F.lit("_m1")).alias("url"))
    )
    res = retract_records(members, chain_edges, rm)
    agg = res.agg(
        F.count("*").alias("rows"),
        F.countDistinct("entity_id").alias("labels"),
    ).collect()[0]
    k = (ents + 7) // 8
    out["retract_rows"] = agg["rows"]
    out["retract_labels"] = agg["labels"]
    out["retract_bad"] = abs(agg["rows"] - (n - k)) + abs(
        agg["labels"] - (ents + k)
    )
    out["retract_sec"] = round(time.time() - t0, 1)

    # ---- Canopy blocking over entity-shared token sets ------------------
    # Every member of a 4-record entity carries the SAME 10-token set,
    # and vocabularies never cross entities — so membership can only
    # form within an entity and every (member, center) Jaccard is
    # exactly 1.0/tight. Expected rows are exact given the fate draw
    # (computed independently below with one aggregate):
    # 4·n_centers + 4·(entities with no center). Measures the
    # inverted-index join at ~n docs × 10 tokens.
    from idd_hw6_record_linkage_spark.operators.canopy import canopy_blocks
    from idd_hw6_record_linkage_spark.operators.sampling import hash_fate

    t0 = time.time()
    ent = F.format_string("e%08d", (F.col("id") / 4).cast("long"))
    cdocs = spark.range(n // 4 * 4).select(
        F.col("id").alias("doc_id"),
        F.array(
            *[F.concat(ent, F.lit(f"_t{i}")) for i in range(10)]
        ).alias("toks"),
    )
    cdocs.write.mode("overwrite").parquet(f"{stage}/canopy_docs")
    cdocs = spark.read.parquet(f"{stage}/canopy_docs")
    cb = canopy_blocks(
        cdocs, "doc_id", "toks", center_rate=0.2, t1=0.5, t2=0.9
    )
    agg = cb.agg(
        F.count("*").alias("rows"),
        F.min("jaccard").alias("jmin"),
        F.sum((~F.col("is_tight")).cast("long")).alias("loose"),
    ).collect()[0]
    cstats = (
        cdocs.select(
            (F.col("doc_id") / 4).cast("long").alias("e"),
            (hash_fate(F.col("doc_id"), salt="canopy") < 0.2).cast(
                "long"
            ).alias("c"),
        )
        .groupBy("e")
        .agg(F.sum("c").alias("nc"))
        .agg(
            F.sum("nc").alias("centers"),
            F.sum((F.col("nc") == 0).cast("long")).alias("empty_ents"),
        )
        .collect()[0]
    )
    expected = 4 * cstats["centers"] + 4 * cstats["empty_ents"]
    out["canopy_rows"] = agg["rows"]
    out["canopy_bad"] = (
        abs(agg["rows"] - expected)
        + int(agg["jmin"] != 1.0)
        + int(agg["loose"] != 0)
    )
    out["canopy_sec"] = round(time.time() - t0, 1)

    # ---- Star + pivot clustering over per-entity K4 cliques -------------
    # Pure K4 graph (the bridge-free slice of the graph section's
    # corpus): closed forms — star centers = one per entity (the base
    # id wins the degree tie), clusters = E, rows = 4E; pivot with
    # rounds=1 settles every clique (the global min-rank member is the
    # unique pivot, a complete graph admits no second), clusters = E.
    from idd_hw6_record_linkage_spark.operators.graph_clustering import (
        pivot_clusters,
        star_clusters,
    )

    t0 = time.time()
    k4_ids = spark.range(n_ent * 4).select(
        F.col("id").cast("string").alias("id")
    )
    k4_edges = spark.read.parquet(f"{stage}/graph").where(
        F.col("score") > 0.9
    ).select("id_l", "id_r")
    st = star_clusters(k4_edges, k4_ids)
    sa = st.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("is_center").cast("long")).alias("centers"),
        F.countDistinct("star_id").alias("clusters"),
    ).collect()[0]
    out["star_rows"] = sa["rows"]
    out["star_bad"] = (
        abs(sa["rows"] - 4 * n_ent)
        + abs(sa["centers"] - n_ent)
        + abs(sa["clusters"] - n_ent)
    )
    out["star_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    pv = pivot_clusters(k4_edges, k4_ids, rounds=1)
    pa = pv.agg(
        F.count("*").alias("rows"),
        F.countDistinct("pivot_id").alias("clusters"),
    ).collect()[0]
    out["pivot_rows"] = pa["rows"]
    out["pivot_bad"] = abs(pa["rows"] - 4 * n_ent) + abs(
        pa["clusters"] - n_ent
    )
    out["pivot_sec"] = round(time.time() - t0, 1)

    # ---- MRA codex + rating over planted name buckets -------------------
    # m pairs in two closed-form buckets by id%2 over 12-char hex
    # names: bucket 0 compares the name to ITSELF (identical codices:
    # rating 6, always a match), bucket 1 to all-'z' (codex 'Z',
    # length gate |len-1| vs hex codices of length 6 -> never
    # comparable, never a match). Measures the unrolled 6-position
    # CASE chains at pair width.
    from idd_hw6_record_linkage_spark.functions.mra import (
        mra_codex,
        mra_comparable,
        mra_min_rating,
        mra_rating,
    )

    t0 = time.time()
    mm = (n // 2) // 2 * 2
    name = F.upper(F.substring(F.md5(F.col("id").cast("string")), 1, 12))
    mra_pairs = spark.range(mm).select(
        mra_codex(name).alias("cl"),
        mra_codex(
            F.when(F.col("id") % 2 == 0, name).otherwise(F.lit("Z" * 12))
        ).alias("cr"),
    )
    rating = mra_rating("cl", "cr")
    cmp_ok = mra_comparable("cl", "cr")
    is_match = cmp_ok & (rating >= mra_min_rating("cl", "cr"))
    ma = mra_pairs.agg(
        F.count("*").alias("n"),
        F.sum(is_match.cast("long")).alias("matches"),
        F.sum((rating == 6).cast("long")).alias("sixes"),
    ).collect()[0]
    out["mra_pairs"] = ma["n"]
    out["mra_bad"] = abs(ma["matches"] - mm // 2) + abs(
        ma["sixes"] - mm // 2
    )
    out["mra_sec"] = round(time.time() - t0, 1)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
