"""Seeded inputs and the independent expected answers they are checked
against. Everything here runs outside the timed phases."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Input sizes. "ingest": transcript turns of the base batch the index is
# built from, and of the delta batch merged into it. The delta shares the
# base's entity pool (both are conversations of one generated corpus,
# split at random), so some of its triples already exist. "query":
# encoded triples of the index and of the batch appended to it.
BASE_TURNS = 4_000
DELTA_TURNS = 1_000
QUERY_TRIPLES = 20_000
QUERY_DELTA_TRIPLES = 4_000
QUERY_DELTA_BATCHES = 2
QUERY_ENTITIES = 2_000
QUERY_PREDICATES = 40

WORKLOADS = ("query", "ingest")
DEFAULT_SIZE = {"query": QUERY_TRIPLES, "ingest": BASE_TURNS}
# Operations per run: single patterns (at least; the loop also runs for
# --seconds), conjunctive queries, and querylog calls x patterns per call.
# Every operation is at least one Spark job (~0.2 s on a 4-core host), so
# the counts are what keeps a run inside its time budget; "ingest" spends
# most of its run on the build and the merge and reads less.
OPS = {
    "query": {"query": 20, "sparql": 4, "querylog": (2, 80)},
    "ingest": {"query": 12, "sparql": 2, "querylog": (1, 20)},
}

# Single-pattern operation kinds: a membership hit and miss plus the
# router's wildcard classes, stamped onto sampled triples the way the
# reference's query driver does (trailing components of a permutation's
# order become wildcards): kind -> (permutation, number of wildcards).
PATTERN_KINDS = {
    "S P O": ("spo", 0),
    "S P ?": ("spo", 1),
    "S ? ?": ("spo", 2),
    "? P O": ("pos", 1),
    "? P ?": ("pos", 2),
    "S ? O": ("osp", 1),
    "? ? O": ("osp", 2),
    "? ? ?": ("spo", 3),
}
# Point patterns only: the traced run's read mix after compaction.
POINT_KINDS = ["S P O", "S P ?", "? P O", "S ? O"]
# Querylog classes: the selective ones. "? P ?" and "? ? ?" are left out
# because their output size, not the engine, would set the figure.
QUERYLOG_KINDS = ["S P ?", "? P O", "S ? O", "S ? ?", "? ? O"]


@dataclass(frozen=True)
class Pattern:
    kind: str
    s: int | None
    p: int | None
    o: int | None


def _write(df: pd.DataFrame, path: str) -> None:
    # Spark reads microsecond timestamps; pandas writes nanoseconds
    df.reset_index(drop=True).to_parquet(path, coerce_timestamps="us",
                                         allow_truncated_timestamps=True)


def ensure_inputs(cache_dir: str, workload: str, size: int, seed: int) -> dict[str, str]:
    """Generate (once per workload, size and seed) the workload's input
    batches as Parquet files; return their paths by name."""
    key = os.path.join(cache_dir, f"{workload}-n{size}-s{seed}")
    names = ("base", "delta", "vocab") if workload == "query" else ("base", "delta")
    paths = {n: os.path.join(key, n + ".parquet") for n in names}
    if os.path.exists(os.path.join(key, "_COMPLETE")):
        return paths
    shutil.rmtree(key, ignore_errors=True)
    os.makedirs(key)
    rng = np.random.default_rng(seed)
    if workload == "ingest":
        from rdf_indexes_spark.synth import generate

        delta_turns = size * DELTA_TURNS // BASE_TURNS
        both = generate(size + delta_turns, seed=seed).transcripts
        convs = both["conv_id"].unique()
        picked = convs[rng.random(len(convs)) < delta_turns / len(both)]
        in_delta = both["conv_id"].isin(set(picked))
        _write(both[~in_delta], paths["base"])
        _write(both[in_delta], paths["delta"])
    elif workload == "query":
        base, delta, vocab = encoded_triples(size, rng)
        _write(base, paths["base"])
        _write(delta, paths["delta"])
        _write(vocab, paths["vocab"])
    else:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    open(os.path.join(key, "_COMPLETE"), "w").close()
    return paths


def encoded_triples(n: int, rng: np.random.Generator):
    """n distinct (s, p, o) id triples plus disjoint batches to append
    (``batch`` column), with
    zipf(1.1) subjects and objects over one entity pool (hub keys) and
    zipf(0.8) predicates, like the transcript generator's skew. Terms are
    ``e<k>`` and ``p<k>``; an entity keeps its id in the s and o roles."""
    scale = n / QUERY_TRIPLES
    n_ent = max(64, int(QUERY_ENTITIES * scale))
    n_delta = int(QUERY_DELTA_TRIPLES * scale)

    def zipf(k: int, a: float, size: int) -> np.ndarray:
        w = 1.0 / np.power(np.arange(1, k + 1), a)
        return rng.choice(k, size=size, p=w / w.sum())

    want = n + n_delta
    seen: set[tuple[int, int, int]] = set()
    rows: list[tuple[int, int, int]] = []
    while len(rows) < want:
        m = 2 * (want - len(rows))
        batch = zip(zipf(n_ent, 1.1, m).tolist(), zipf(QUERY_PREDICATES, 0.8, m).tolist(),
                    zipf(n_ent, 1.1, m).tolist())
        for t in batch:
            if t not in seen:
                seen.add(t)
                rows.append(t)
                if len(rows) == want:
                    break
    arr = np.array(rows, dtype="int64")
    cols = ["s", "p", "o"]
    delta = pd.DataFrame(arr[n:], columns=cols)
    delta["batch"] = np.arange(len(delta)) % QUERY_DELTA_BATCHES
    vocab = pd.concat([
        pd.DataFrame({"role": r, "term": [f"e{i}" for i in range(n_ent)], "id": np.arange(n_ent)})
        for r in ("s", "o")
    ] + [pd.DataFrame({"role": "p", "term": [f"p{i}" for i in range(QUERY_PREDICATES)],
                       "id": np.arange(QUERY_PREDICATES)})])
    return pd.DataFrame(arr[:n], columns=cols), delta, vocab


def read_corpus_pd(path: str) -> pd.DataFrame:
    return pd.read_parquet(path, columns=["conv_id", "turn_idx", "role", "text", "tool"])


def sample_triples(triples: pd.DataFrame, n: int, rng: np.random.Generator) -> np.ndarray:
    """n triples: half drawn uniformly over triples (hub keys, by their
    weight), half by first drawing a subject uniformly (cold keys)."""
    arr = triples[["s", "p", "o"]].to_numpy()
    hot = arr[rng.integers(0, len(arr), n - n // 2)]
    subjects = triples["s"].unique()
    by_s = triples.groupby("s").indices
    cold = []
    for s in subjects[rng.integers(0, len(subjects), n // 2)]:
        rows = by_s[s]
        cold.append(arr[rows[rng.integers(0, len(rows))]])
    out = np.concatenate([hot, np.array(cold).reshape(-1, 3)])
    return out[rng.permutation(len(out))]


def stamp(kind: str, triple) -> Pattern:
    from rdf_indexes_spark.plans.querylog import stamp_wildcards

    perm, w = PATTERN_KINDS[kind]
    q = stamp_wildcards(tuple(int(x) for x in triple), perm, w)
    return Pattern(kind, q.s, q.p, q.o)


def patterns(triples: pd.DataFrame, kinds: list[str], n: int, rng: np.random.Generator,
             with_misses: bool = True) -> list[Pattern]:
    """n patterns cycling through ``kinds``; with_misses turns every other
    membership probe into one for an absent triple."""
    picked = sample_triples(triples, n, rng)
    present = set(map(tuple, triples[["s", "p", "o"]].to_numpy().tolist()))
    objects = triples["o"].unique()
    out, members = [], 0
    for i, t in enumerate(picked):
        kind = kinds[i % len(kinds)]
        pat = stamp(kind, t)
        if kind == "S P O":
            members += 1
            if with_misses and members % 2 == 0:
                o = int(objects[rng.integers(0, len(objects))])
                for _ in range(20):
                    if (pat.s, pat.p, o) not in present:
                        break
                    o = int(objects[rng.integers(0, len(objects))])
                else:
                    o = int(objects.max()) + 1
                pat = Pattern(kind, pat.s, pat.p, o)
        out.append(pat)
    return out


def expected_count(triples: pd.DataFrame, pat: Pattern) -> int:
    m = np.ones(len(triples), dtype=bool)
    for col in ("s", "p", "o"):
        v = getattr(pat, col)
        if v is not None:
            m &= triples[col].to_numpy() == v
    return int(m.sum())


def decode(triples: pd.DataFrame, vocabs: dict[str, pd.DataFrame]) -> pd.DataFrame:
    """Id triples -> term triples through the per-role (term, id) maps."""
    out = {}
    for role in ("s", "p", "o"):
        m = dict(zip(vocabs[role]["id"], vocabs[role]["term"]))
        out[role] = triples[role].map(m)
    return pd.DataFrame(out)


@dataclass(frozen=True)
class Conjunctive:
    """One multi-pattern operation and its independently computed size."""

    label: str
    kind: str  # "bgp" (id-level bgp_join) or "sparql" (term-level query text)
    query: object
    expected: int


def conjunctive_ops(triples: pd.DataFrame, vocabs: dict[str, pd.DataFrame]) -> list[Conjunctive]:
    """Two SPARQL strings (a chain and a sequence property path), an
    id-level 2-hop bgp_join and a SPARQL GROUP BY with COUNT, all anchored
    at the busiest subject and its busiest predicate, so every seed asks
    the same shape of question of the same kind of key."""
    terms = decode(triples, vocabs)
    s_id = int(triples["s"].value_counts().index[0])
    own = triples[triples["s"] == s_id]
    p1 = int(own["p"].value_counts().index[0])
    hop1 = own[own["p"] == p1]
    # id-level 2-hop: object ids of hop 1 matched against subject ids
    nxt = triples[triples["s"].isin(hop1["o"])]
    p2_id = int(nxt["p"].value_counts().index[0]) if len(nxt) else p1
    bgp_n = int(hop1[["o"]].merge(nxt[nxt["p"] == p2_id], left_on="o", right_on="s").shape[0])
    bgp = [(s_id, p1, "?y"), ("?y", p2_id, "?z")]

    # term level: the chain joins hop-1 objects to subjects by term (the
    # three role id spaces differ, so only the SPARQL layer can do this)
    t1 = terms.loc[hop1.index]
    e, p1t = t1["s"].iloc[0], t1["p"].iloc[0]
    second = terms[terms["s"].isin(t1["o"])]
    p2 = second["p"].value_counts().index[0] if len(second) else p1t
    chain_n = int(t1[["o"]].merge(terms[terms["p"] == p2], left_on="o", right_on="s").shape[0])
    group_n = int(terms.loc[terms["s"] == e, "p"].nunique())
    return [
        Conjunctive("sparql chain", "sparql",
                    f"SELECT ?y ?z WHERE {{ <{e}> <{p1t}> ?y . ?y <{p2}> ?z }}", chain_n),
        Conjunctive("sparql path", "sparql",
                    f"SELECT ?z WHERE {{ <{e}> <{p1t}>/<{p2}> ?z }}", chain_n),
        Conjunctive("bgp 2-hop", "bgp", bgp, bgp_n),
        Conjunctive("sparql group-count", "sparql",
                    f"SELECT ?p (COUNT(*) AS ?c) WHERE {{ <{e}> ?p ?o }} GROUP BY ?p", group_n),
    ]


def oracle_facts(transcripts: pd.DataFrame) -> dict:
    """What the pandas oracle derives from one transcript batch: its
    mention count, and the distinct (canonical subject, predicate,
    canonical object) triples with their distinct-subject count."""
    from rdf_indexes_spark.oracle.pandas_oracle import run_oracle

    out = run_oracle(transcripts)
    cm = out["canonical_mentions"]
    triples = set(zip(cm["cs"], cm["pred"], cm["co"]))
    return {
        "mentions": len(out["mentions"]),
        "triples": triples,
        "distinct_subjects": len({t[0] for t in triples}),
    }
