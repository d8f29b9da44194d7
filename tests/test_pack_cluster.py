"""near_dup_clusters vs an independent Python oracle."""

from wikidata_dump_processor_spark.operators import dedup as D


# --------------------------- near-dup clustering ---------------------------

BASE = "the quick brown fox jumps over the lazy dog again and again today"
CHAIN_DOCS = [
    # a transitive chain: 1~2 and 2~3 are near (one word step apart) but
    # 1~3 is two steps — clustering must still put all three together
    (1, BASE),
    (2, BASE.replace("quick", "rapid")),
    (3, BASE.replace("quick", "rapid").replace("lazy", "idle")),
    (10, "completely different text about spark engines and parquet files here"),
    (11, "completely different text about spark engines and parquet files here"),
    (20, "a singleton document with no neighbors at all in this tiny corpus"),
]


def _uf_clusters(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {}
    for x in parent:
        roots.setdefault(find(x), []).append(x)
    return {x: min(members) for members in roots.values() for x in members}


def test_near_dup_clusters_transitive(spark):
    docs = spark.createDataFrame(CHAIN_DOCS, "doc_id long, text string")
    thresh = 0.5
    out = {
        r.doc_id: (r.cluster_id, r.is_keeper)
        for r in D.near_dup_clusters(docs, threshold=thresh).collect()
    }
    assert len(out) == len(CHAIN_DOCS)  # every input row present
    # oracle: union-find over the ENGINE's pair stage (itself golden-
    # checked by kg8) — isolates the clustering + keeper-pick logic
    pairs = [
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(docs, threshold=thresh).collect()
    ]
    expect = _uf_clusters(pairs)
    assert (1, 2) in pairs or (2, 3) in pairs  # the fixture really pairs up
    for doc_id, (cluster_id, is_keeper) in out.items():
        want = expect.get(doc_id, doc_id)  # singletons cluster to themselves
        assert cluster_id == want, (doc_id, cluster_id, want)
        assert is_keeper == (doc_id == want)
    # the transitive chain collapsed into one cluster
    assert out[1][0] == out[2][0] == out[3][0] == 1
    assert out[10][0] == out[11][0] == 10
    assert out[20] == (20, True)


def test_curate_near_dup_clusters_policy(spark):
    """near_dup="clusters" drops the whole transitive closure; the
    pairwise default only drops docs directly paired with a smaller id."""
    from wikidata_dump_processor_spark.operators.curate import curate_documents

    rows = [
        (d, t, f"https://chain{d}.example.com/p/{d}")
        for d, t in CHAIN_DOCS
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    kw = dict(
        id_col="doc_id", text_col="text", url_col="url",
        minhash_threshold=0.5, domain_cap=None, checkpoint=False,
    )
    flag_pairs = {
        r.doc_id: r._drop_reason
        for r in curate_documents(docs, near_dup=True, **kw).collect()
    }
    flag_clust = {
        r.doc_id: r._drop_reason
        for r in curate_documents(docs, near_dup="clusters", **kw).collect()
    }
    # both policies keep the cluster keepers and singletons; 10/11 are
    # EXACT duplicates so the earlier chain step attributes 11 first
    for flags in (flag_pairs, flag_clust):
        assert flags[1] is None and flags[10] is None and flags[20] is None
        assert flags[11] == "exact_dup"
    # the clusters policy drops every non-keeper of the 1-2-3 closure
    assert flag_clust[2] == "near_dup" and flag_clust[3] == "near_dup"
    # and is at least as strict as the pairwise policy everywhere
    for d, reason in flag_pairs.items():
        if reason == "near_dup":
            assert flag_clust[d] == "near_dup"


def test_near_dup_clusters_string_ids(spark):
    """The pipeline's curate stage clusters per-url (STRING ids): the
    cluster id must be the lexicographic min member, and the ANSI cast
    path must not throw on non-numeric ids (regression)."""
    rows = [(f"https://h{d}.example.com/p", t) for d, t in CHAIN_DOCS]
    docs = spark.createDataFrame(rows, "url string, text string")
    out = {
        r.url: (r.cluster_id, r.is_keeper)
        for r in D.near_dup_clusters(
            docs, id_col="url", threshold=0.5
        ).collect()
    }
    assert len(out) == len(rows)
    chain = [f"https://h{d}.example.com/p" for d in (1, 2, 3)]
    want = min(chain)
    for u in chain:
        assert out[u] == (want, u == want)
    singleton = "https://h20.example.com/p"
    assert out[singleton] == (singleton, True)
