"""The benchmark's workloads: inputs from the seed, one DAG call, checks.

Each workload builds its input from the seed, writes it as parquet, and
hands the program only that input. ``execute`` is the timed DAG call; the
check reads the committed tables back with pyarrow after the timer stops
and returns the list of problems (empty when the pass is correct) and the
pass's pairwise F1, which must be 1.0 for the pass to be correct.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from docgen import generate_corpus

ER_STAGES = (
    "staged", "blocking_pairs", "scored_pairs", "match_candidates",
    "match_groups", "survived", "golden", "xref", "hierarchy",
)
DOC_STAGES = (
    "doc_stats", "doc_filtered", "doc_exact", "doc_clusters", "doc_keepers",
    "doc_splits", "doc_packed",
)
PACK_BUDGET_TOKENS = 2048  # run_docs_pipeline's default budget_tokens
# Candidate pairs in the scoring-kernel batch: every pair of an er_full
# pass at 200 entities, a fixed prefix at larger sizes.
KERNEL_BATCH_PAIRS = 20000


def read_table(store_dir: str, name: str, columns: list[str] | None):
    """A committed stage table as pandas, read from its parquet files."""
    files = sorted(glob.glob(os.path.join(store_dir, name, "**", "*.parquet"),
                             recursive=True))
    if not files:
        raise FileNotFoundError(f"no committed table {name!r} in {store_dir}")
    return pq.ParquetDataset(files).read(columns=columns).to_pandas()


def pairwise_f1(truth, predicted) -> float:
    """Pairwise F1 of a predicted clustering against the true one, by the
    closed form over cluster sizes: true positives = sum C(n,2) over
    (true, predicted) cells, predicted pairs = sum over predicted clusters,
    actual pairs = sum over true clusters."""
    import pandas as pd

    labels = pd.DataFrame({"t": list(truth), "p": list(predicted)})

    def pairs(keys: list[str]) -> int:
        sizes = labels.groupby(keys).size()
        return int((sizes * (sizes - 1) // 2).sum())

    tp, n_predicted, n_actual = pairs(["t", "p"]), pairs(["p"]), pairs(["t"])
    return 2.0 * tp / (n_predicted + n_actual) if n_predicted + n_actual else 1.0


def f1_problems(table: str, ids, truth, predicted) -> tuple[list[str], float]:
    """The pairwise F1 of ``predicted`` against ``truth`` (one label of each
    per id) and, when it is below 1.0, the problem that names the clusters
    at fault: predicted clusters that join several true ones, and true
    clusters split over several predicted ones (a few of each, with ids)."""
    import pandas as pd

    f1 = pairwise_f1(truth, predicted)
    if f1 == 1.0:
        return [], f1
    labels = pd.DataFrame({"id": list(ids), "t": list(truth), "p": list(predicted)})

    def spread(by: str, over: str, what: str) -> list[str]:
        n = labels.groupby(by)[over].nunique()
        return [
            f"{what} {key!r}: {sorted(g[over].unique().tolist())} "
            f"({', '.join(map(str, sorted(g['id'])[:6]))})"
            for key, g in labels[labels[by].isin(n[n > 1].index)].groupby(by)
        ][:3]

    detail = (spread("p", "t", "predicted cluster joins true clusters")
              + spread("t", "p", "true cluster split over predicted clusters"))
    return [f"{table}: pairwise F1 {f1!r} < 1.0; " + "; ".join(detail)], f1


class ErFull:
    """``run_pipeline`` on a generated ER world, into a fresh store."""

    name = "er_full"
    stages = ER_STAGES

    def __init__(self, spark, work_dir: str, seed: int, n_entities: int):
        from payor_mdm_spark.datagen.transcripts import generate_world, write_world

        self.spark = spark
        world = generate_world(seed=seed, n_entities=n_entities)
        turns_path, truth_path = write_world(world, os.path.join(work_dir, "input"))
        self.input_path = turns_path
        self.input_bytes = os.path.getsize(turns_path)
        self.truth = pq.read_table(
            truth_path, columns=["conv_id", "entity_id"]
        ).to_pandas()
        self.size = {"entities": n_entities, "turns": len(world.turns),
                     "conversations": len(world.truth)}

    def load(self):
        return self.spark.read.parquet(self.input_path)

    def execute(self, inputs, store) -> None:
        from payor_mdm_spark.plans.pipeline import run_pipeline

        run_pipeline(self.spark, inputs, store)

    def check(self, store_dir: str) -> tuple[list[str], float]:
        """Every conversation maps to one master, there is one golden record
        per master, and xref's pairwise F1 against the world's truth table
        is 1.0."""
        xref = read_table(store_dir, "xref", ["source_id", "master_entity_id"])
        golden = read_table(store_dir, "golden", ["master_entity_id"])
        problems = []
        labeled = self.truth.merge(
            xref, left_on="conv_id", right_on="source_id", how="inner"
        )
        if len(labeled) != len(self.truth) or len(xref) != len(self.truth):
            problems.append(
                f"xref maps {len(labeled)} of {len(self.truth)} conversations "
                f"({len(xref)} xref rows)"
            )
        masters = xref["master_entity_id"].nunique()
        if len(golden) != masters or golden["master_entity_id"].nunique() != masters:
            problems.append(
                f"golden has {len(golden)} rows for {masters} xref masters"
            )
        f1_issues, f1 = f1_problems(
            "xref", labeled["conv_id"], labeled["entity_id"],
            labeled["master_entity_id"],
        )
        return problems + f1_issues, f1

    def kernel_batch(self, store):
        """The pass's candidate pairs as the scoring UDF's six inputs (names,
        addresses, null tax ids), built by ``operators.scoring``'s own
        rehydration and address rule from the committed tables; the first
        ``KERNEL_BATCH_PAIRS`` by pair key. Runs Spark jobs, so it is called
        after a traced pass's metrics are read."""
        import pandas as pd
        from pyspark.sql import functions as F

        from payor_mdm_spark.operators.scoring import _addr_concat, rehydrate_pairs

        def addr(side: str):
            return F.when(
                F.col(f"addr_line_1_{side}").isNotNull(), _addr_concat(side)
            ).alias(f"addr_{side}")

        batch = (
            rehydrate_pairs(store.read("blocking_pairs"), store.read("staged"))
            .orderBy("source_record_id_a", "source_record_id_b")
            .select("name_norm_a", "name_norm_b", addr("a"), addr("b"))
            .limit(KERNEL_BATCH_PAIRS)
            .toPandas()
        )
        none = pd.Series([None] * len(batch), dtype=object)
        return (batch["name_norm_a"], batch["name_norm_b"],
                batch["addr_a"], batch["addr_b"], none, none)


class DocsCorpus:
    """``run_docs_pipeline`` on a generated corpus, into a fresh store."""

    name = "docs_corpus"
    stages = DOC_STAGES

    def __init__(self, spark, work_dir: str, seed: int, n_docs: int):
        self.spark = spark
        self.corpus = generate_corpus(seed, n_docs)
        os.makedirs(os.path.join(work_dir, "input"), exist_ok=True)
        self.input_path = os.path.join(work_dir, "input", "documents.parquet")
        self.corpus.write_parquet(self.input_path)
        self.input_bytes = os.path.getsize(self.input_path)
        self.size = {"docs": n_docs, "originals": len(self.corpus.originals)}

    def load(self):
        return self.spark.read.parquet(self.input_path).select(
            "doc_id", "source", "text"
        )

    def execute(self, inputs, store) -> None:
        from payor_mdm_spark.plans.docs_pipeline import run_docs_pipeline

        run_docs_pipeline(self.spark, inputs, store,
                          budget_tokens=PACK_BUDGET_TOKENS)

    def check(self, store_dir: str) -> tuple[list[str], float]:
        """Stage ids match the planted ground truth exactly; the F1 is that
        of doc_clusters against the planted near-dup clusters."""
        c = self.corpus
        everything = set(c.doc_ids)
        expected = {
            "doc_stats": everything,
            "doc_filtered": everything,
            "doc_exact": c.first_occurrences(),
            "doc_clusters": c.first_occurrences(),
            "doc_keepers": c.originals,
            "doc_splits": c.originals,
        }
        problems = []
        for name, ids in expected.items():
            got = read_table(store_dir, name, ["doc_id"])["doc_id"]
            if len(got) != len(ids) or set(got) != ids:
                problems.append(
                    f"{name}: {len(got)} rows, expected {len(ids)} "
                    f"({len(set(got) ^ ids)} ids differ)"
                )
        clusters = read_table(
            store_dir, "doc_clusters", ["doc_id", "cluster_root", "is_keeper"]
        )
        if set(clusters.loc[clusters["is_keeper"], "doc_id"]) != c.originals:
            problems.append("doc_clusters: keeper flags differ from the originals")
        f1_issues, f1 = f1_problems(
            "doc_clusters", clusters["doc_id"],
            [c.origins[i] for i in clusters["doc_id"]], clusters["cluster_root"],
        )
        problems += f1_issues
        splits = read_table(store_dir, "doc_splits", ["doc_id", "split"])
        if not set(splits["split"]) <= {"train", "val", "test"}:
            problems.append(f"doc_splits: unknown splits {set(splits['split'])}")
        problems += self._check_packing(
            store_dir, set(splits.loc[splits["split"] == "train", "doc_id"])
        )
        return problems, f1

    def _check_packing(self, store_dir: str, train: set[int]) -> list[str]:
        """doc_packed holds exactly the train docs, each with its word count,
        laid out contiguously per source in doc_id order."""
        packed = read_table(
            store_dir, "doc_packed",
            ["doc_id", "source", "token_count", "bin_id", "bin_offset"],
        ).sort_values(["source", "doc_id"])
        if len(packed) != len(train) or set(packed["doc_id"]) != train:
            return [f"doc_packed: {len(packed)} rows, expected {len(train)} train docs"]
        words = [len(self.corpus.texts[i].split()) for i in packed["doc_id"]]
        if list(packed["token_count"]) != words:
            return ["doc_packed: token counts differ from the word counts"]
        start = packed.groupby("source")["token_count"].cumsum() - packed["token_count"]
        layout = packed["bin_id"] * PACK_BUDGET_TOKENS + packed["bin_offset"]
        if not (start == layout).all():
            return ["doc_packed: bins are not contiguous per source"]
        return []


WORKLOADS = {cls.name: cls for cls in (ErFull, DocsCorpus)}
