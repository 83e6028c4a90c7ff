"""The two ways a workload gets, changes and compacts its index.

Both expose the same steps so every workload measures the same
end-to-end metrics: ``load`` builds the index, ``merge(k)`` adds batch k
of ``batches``, ``compact`` rewrites all generations into one sorted run,
and the ``tables``/``vocabs`` of the current index serve the reads.

- ``PipelineIndex`` (workload "ingest"): the full system from transcripts
  -- ``run_pipeline`` (the checkpointed, resumable build), ``merge_delta``
  and ``compact``.
- ``EncodedIndex`` (workload "query"): already-encoded id triples written
  straight to the permutation layer, so the reads run against an index
  none of the build operators touched; the merge appends a generation of
  new triples and compaction rewrites the layout, the physical work the
  delta layer does.

Each step returns a result its check compares with an expectation the
index computed independently in pandas.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

import workload


def parquet_bytes_and_files(path: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def perm_counts(tables) -> dict[str, int]:
    """Row count of every permutation table, in one job."""
    from functools import reduce

    from pyspark.sql import functions as F

    rows = reduce(lambda a, b: a.unionByName(b), [
        df.select(F.lit(name).alias("perm")) for name, df in tables.items()
    ]).groupBy("perm").agg(F.count("*").alias("n")).collect()
    return {r["perm"]: int(r["n"]) for r in rows}


class PipelineIndex:
    LAYERS = {"load": "pipeline", "merge": "delta", "compact": "delta"}
    batches = 1

    def __init__(self, spark, workdir: str, inputs: dict[str, str], input_id: str):
        from rdf_indexes_spark.sources.transcripts import read_transcripts

        self.spark = spark
        self.workdir = workdir
        self.perms_dir = os.path.join(workdir, "perms", "perms5")
        self.inputs = inputs
        self.input_id = input_id
        self.base = read_transcripts(spark, inputs["base"])
        self.delta = read_transcripts(spark, inputs["delta"])

    # -- timed steps
    def load(self):
        from rdf_indexes_spark.pipeline import run_pipeline

        self.art = run_pipeline(self.spark, self.base, self.workdir, input_id=self.input_id)
        stats = self.art.stats.first().asDict()
        return {"stats": stats, "mentions": self.art.counters["mentions"]["rows"]}

    def merge(self, k: int):
        from rdf_indexes_spark.delta import merge_delta

        return merge_delta(self.spark, self.workdir, self.delta, delta_id=self.input_id)

    def compact(self):
        from rdf_indexes_spark.delta import compact

        return compact(self.spark, self.workdir)

    # -- the index as it stands
    def tables(self):
        from rdf_indexes_spark.operators.permutations import read_permutations_unified

        return read_permutations_unified(self.spark, self.perms_dir)

    def vocabs(self):
        from pyspark.sql import functions as F

        from rdf_indexes_spark.delta import read_vocab_ranked

        ranked = read_vocab_ranked(self.spark, self.workdir)
        return {r: ranked.filter(F.col("role") == r).select("term", "id") for r in ("s", "p", "o")}

    def collect(self):
        """Driver copies of the current triple set and term maps."""
        from rdf_indexes_spark.delta import read_triples

        triples = read_triples(self.spark, self.workdir).toPandas().astype("int64")
        return triples, {r: v.toPandas() for r, v in self.vocabs().items()}

    def stage_write_s(self) -> float:
        return sum(c["elapsed_sec"] for c in self.art.counters.values())

    # -- expectations, from the pandas oracle
    def prepare_checks(self):
        self.facts_base = workload.oracle_facts(workload.read_corpus_pd(self.inputs["base"]))
        self.facts_delta = workload.oracle_facts(workload.read_corpus_pd(self.inputs["delta"]))

    def check_load(self, result) -> list[str]:
        facts, stats = self.facts_base, result["stats"]
        per_perm = perm_counts(self.tables())
        bad = []
        if result["mentions"] != facts["mentions"]:
            bad.append(f"mentions {result['mentions']} != oracle {facts['mentions']}")
        if stats["num_triples"] != len(facts["triples"]):
            bad.append(f"triples {stats['num_triples']} != oracle {len(facts['triples'])}")
        if stats["distinct_subjects"] != facts["distinct_subjects"]:
            bad.append(f"distinct subjects {stats['distinct_subjects']} != "
                       f"oracle {facts['distinct_subjects']}")
        if len(per_perm) != 5 or any(v != stats["num_triples"] for v in per_perm.values()):
            bad.append(f"permutation rows {per_perm} != num_triples {stats['num_triples']}")
        return bad

    def check_merge(self, result, k: int) -> list[str]:
        base, new = self.facts_base["triples"], self.facts_delta["triples"]
        want = {"total_triples": len(base | new), "new_triples": len(new - base)}
        return [f"{k} {result[k]} != oracle {v}" for k, v in want.items() if result[k] != v]

    def check_compact(self, result, n_triples: int) -> list[str]:
        got = result["compacted_triples"]
        return [] if got == n_triples else [f"compacted {got} != {n_triples}"]

    def num_triples(self, result) -> int:
        return int(result["stats"]["num_triples"])


class EncodedIndex:
    LAYERS = {"load": "permutations", "merge": "permutations", "compact": "permutations"}

    def __init__(self, spark, workdir: str, inputs: dict[str, str], input_id: str):
        self.spark = spark
        self.workdir = workdir
        self.perms_dir = os.path.join(workdir, "perms5")
        self.inputs = inputs
        self.base = spark.read.parquet(inputs["base"])
        self.delta = spark.read.parquet(inputs["delta"])
        self.vocab = spark.read.parquet(inputs["vocab"])
        batch = pd.read_parquet(inputs["delta"], columns=["batch"])["batch"]
        self.batch_sizes = batch.value_counts().sort_index()
        self.batches = len(self.batch_sizes)

    def load(self):
        from rdf_indexes_spark.operators import permutations as perm

        perm.write_permutations_unified(self.base, self.perms_dir)
        return {"stats": perm.compute_stats(self.base).first().asDict()}

    def merge(self, k: int):
        from pyspark.sql import functions as F

        from rdf_indexes_spark.operators import permutations as perm

        batch = self.delta.filter(F.col("batch") == k).select("s", "p", "o")
        perm.write_permutations_unified(batch, self.perms_dir, mode="append")

    def compact(self):
        """Rewrite every generation as one sorted run, then swap it in."""
        from rdf_indexes_spark.operators import permutations as perm

        tmp = self.perms_dir + ".compact"
        perm.write_permutations_unified(self.tables()["spo"], tmp)
        shutil.rmtree(self.perms_dir)
        os.rename(tmp, self.perms_dir)

    def tables(self):
        from rdf_indexes_spark.operators.permutations import read_permutations_unified

        return read_permutations_unified(self.spark, self.perms_dir)

    def vocabs(self):
        from pyspark.sql import functions as F

        return {r: self.vocab.filter(F.col("role") == r).select("term", "id")
                for r in ("s", "p", "o")}

    def collect(self):
        triples = pd.concat([pd.read_parquet(self.inputs["base"]),
                             pd.read_parquet(self.inputs["delta"], columns=["s", "p", "o"])],
                            ignore_index=True)
        vocab = pd.read_parquet(self.inputs["vocab"])
        return triples, {r: vocab[vocab["role"] == r][["term", "id"]] for r in ("s", "p", "o")}

    def stage_write_s(self) -> float:
        return 0.0

    def prepare_checks(self):
        self.base_pd = pd.read_parquet(self.inputs["base"])

    def check_load(self, result) -> list[str]:
        t = self.base_pd
        want = {
            "num_triples": len(t),
            "distinct_subjects": t["s"].nunique(),
            "distinct_predicates": t["p"].nunique(),
            "distinct_objects": t["o"].nunique(),
            "distinct_sp_pairs": len(t[["s", "p"]].drop_duplicates()),
            "distinct_po_pairs": len(t[["p", "o"]].drop_duplicates()),
            "distinct_os_pairs": len(t[["o", "s"]].drop_duplicates()),
        }
        got = result["stats"]
        bad = [f"{k} {got[k]} != {v}" for k, v in want.items() if got[k] != v]
        per_perm = perm_counts(self.tables())
        if len(per_perm) != 5 or any(v != len(t) for v in per_perm.values()):
            bad.append(f"permutation rows {per_perm} != {len(t)}")
        return bad

    def check_merge(self, result, k: int) -> list[str]:
        return self.check_rows(len(self.base_pd) + int(self.batch_sizes.loc[: k].sum()))

    def check_compact(self, result, n_triples: int) -> list[str]:
        return self.check_rows(n_triples)

    def check_rows(self, want: int) -> list[str]:
        per_perm = perm_counts(self.tables())
        if len(per_perm) == 5 and all(v == want for v in per_perm.values()):
            return []
        return [f"permutation rows {per_perm} != {want}"]

    def num_triples(self, result) -> int:
        return int(result["stats"]["num_triples"])


INDEXES = {"ingest": PipelineIndex, "query": EncodedIndex}
