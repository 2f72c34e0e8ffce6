"""pgml.tune: LLM fine-tuning lifecycle — data layer + catalog flow.

Reference:
- text dataset builders: pgml-extension/src/orm/snapshot.rs:786-1064
  (text_classification_dataset / text_pair_classification_dataset /
  conversation_dataset): column remapping via dataset_args, NULL text
  is a hard error, head-train/tail-test split over snapshot order.
- tune driver flow: api.rs:846-995 (project find-or-create + task
  consistency, snapshot, Model::finetune, deploy-if-better on the
  task metric).
- Model::finetune: orm/model.rs:161-230 (model record with
  algorithm='transformers', runtime='python', then the task-dispatched
  trainer writing to the per-model artifact dir).

Spark-first: datasets stay DataFrames end to end — the split is the
scale-safe global-rank split from preprocess.snapshot, label counting
is an aggregate, and nothing is collected until the trainer boundary.
Only the actual HuggingFace Trainer.fit is import-gated; the
deterministic `UnigramTrainer` twin computes REAL metrics (majority
-class f1/accuracy, add-one-smoothed unigram perplexity) with
DataFrame ops so the full lifecycle (registry rows, metrics, deploy
decision) is testable without torch.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postgresml_spark.ml.registry import Registry
from postgresml_spark.preprocess.snapshot import train_test_split

TASK_TEXT_CLASSIFICATION = "text_classification"
TASK_TEXT_PAIR_CLASSIFICATION = "text_pair_classification"
TASK_CONVERSATION = "conversation"

# target metric + direction per tune task (api.rs deploy comparison)
TUNE_TASK_METRIC = {
    TASK_TEXT_CLASSIFICATION: ("f1", True),
    TASK_TEXT_PAIR_CLASSIFICATION: ("f1", True),
    TASK_CONVERSATION: ("perplexity", False),
}

# role -> (dataset_args key, default source column) per task
_TASK_COLUMNS = {
    TASK_TEXT_CLASSIFICATION: [
        ("text", "text_column", "text"),
        ("class", "class_column", "class"),
    ],
    TASK_TEXT_PAIR_CLASSIFICATION: [
        ("text1", "text1_column", "text1"),
        ("text2", "text2_column", "text2"),
        ("class", "class_column", "class"),
    ],
    TASK_CONVERSATION: [
        ("system", "system_column", "system"),
        ("user", "user_column", "user"),
        ("assistant", "assistant_column", "assistant"),
    ],
}


@dataclass
class TextDataset:
    """Train/test text relations for a tune task. DataFrames carry the
    role-named columns (e.g. text/class); `*_lists()` materializes to
    the driver only at the trainer boundary."""

    task: str
    train_df: DataFrame
    test_df: DataFrame
    columns: list[str]
    num_rows: int
    num_train_rows: int
    num_test_rows: int
    num_distinct_labels: int = 0

    @property
    def num_features(self) -> int:
        return len([c for c in self.columns if c != "class"])

    def _lists(self, df: DataFrame) -> dict[str, list[str]]:
        rows = df.select(*self.columns).collect()
        return {c: [r[c] for r in rows] for c in self.columns}

    def train_lists(self) -> dict[str, list[str]]:
        return self._lists(self.train_df)

    def test_lists(self) -> dict[str, list[str]]:
        return self._lists(self.test_df)


def build_text_dataset(
    df: DataFrame,
    task: str,
    dataset_args: dict | None = None,
    test_size: float | int = 0.25,
    sampling: str = "last",
    order_col: str | None = None,
    seed: int = 42,
) -> TextDataset:
    """Task-dispatched dataset builder (snapshot.rs:786-1064): rename
    the source columns to their roles, validate text NULLs (the
    reference errors with 'NULL training text is not handled'), split
    head-train/tail-test (or random/stratified)."""
    if task not in _TASK_COLUMNS:
        raise ValueError(f"unsupported tune task {task!r}")
    args = dataset_args or {}
    roles = _TASK_COLUMNS[task]
    missing = [args.get(k, d) for _, k, d in roles if args.get(k, d) not in df.columns]
    if missing:
        raise ValueError(f"columns {missing} not in relation {df.columns}")
    keep_order = [order_col] if order_col and order_col not in [r for r, _, _ in roles] else []
    sel = df.select(
        *keep_order,
        *[F.col(args.get(k, d)).cast("string").alias(role) for role, k, d in roles],
    )
    role_names = [r for r, _, _ in roles]
    null_counts = sel.select(
        [F.count(F.when(F.col(r).isNull(), 1)).alias(r) for r in role_names]
    ).head()
    for r in role_names:
        if null_counts[r]:
            raise ValueError(f"NULL training text is not handled (column {r!r})")

    label_col = "class" if "class" in role_names else None
    if sampling == "stratified" and label_col is None:
        sampling = "random"
    # the reference splits head/tail over SNAPSHOT order; with no
    # order column to define that order, 'last' would raise deep in
    # train_test_split — fall back to the seeded random split so the
    # documented defaults work out of the box
    if sampling == "last" and order_col is None:
        sampling = "random"
    train_df, test_df = train_test_split(
        sel, test_size, sampling,
        label_col=label_col if sampling == "stratified" else None,
        order_col=order_col, seed=seed,
    )
    train_df = train_df.select(*role_names)
    test_df = test_df.select(*role_names)
    n_train = train_df.count()
    n_test = test_df.count()
    n_labels = (
        train_df.select("class").distinct().count() if label_col else 0
    )
    return TextDataset(
        task=task, train_df=train_df, test_df=test_df, columns=role_names,
        num_rows=n_train + n_test, num_train_rows=n_train,
        num_test_rows=n_test, num_distinct_labels=n_labels,
    )


# ---------------------------------------------------------------------------
# Trainers. Protocol: trainer(task, dataset, hyperparams, artifact_dir)
# -> metrics dict. Only the HF path needs torch; everything above this
# boundary is torch-free.
# ---------------------------------------------------------------------------

def hf_finetune(task: str, dataset: TextDataset, hyperparams: dict,
                artifact_dir: str) -> dict:
    """Real fine-tune via HuggingFace transformers (the reference's
    bindings/transformers finetune_* entry points). Import-gated: this
    image has no torch, so Trainer.fit cannot run here — the data prep
    above this call is identical for the real path."""
    try:
        import torch  # noqa: F401
        import transformers  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "pgml.tune's trainer needs torch+transformers, absent from "
            "this image; pass trainer=... (e.g. UnigramTrainer) for the "
            "deterministic twin"
        ) from e
    from transformers import (  # pragma: no cover - requires torch
        AutoModelForSequenceClassification,
        AutoTokenizer,
        Trainer,
        TrainingArguments,
    )

    model_name = hyperparams.get("model_name") or "distilbert-base-uncased"
    tok = AutoTokenizer.from_pretrained(model_name)  # pragma: no cover
    train = dataset.train_lists()  # pragma: no cover
    if task == TASK_TEXT_CLASSIFICATION:  # pragma: no cover
        labels = sorted(set(train["class"]))
        label_id = {l: i for i, l in enumerate(labels)}
        enc = tok(train["text"], truncation=True, padding=True)
        model = AutoModelForSequenceClassification.from_pretrained(
            model_name, num_labels=len(labels)
        )
        args = TrainingArguments(
            output_dir=artifact_dir,
            num_train_epochs=float(hyperparams.get("epochs", 1)),
        )

        class _DS(torch.utils.data.Dataset):
            def __len__(self):
                return len(train["text"])

            def __getitem__(self, i):
                item = {k: torch.tensor(v[i]) for k, v in enc.items()}
                item["labels"] = torch.tensor(label_id[train["class"][i]])
                return item

        Trainer(model=model, args=args, train_dataset=_DS()).train()
        model.save_pretrained(artifact_dir)
        return {"trained": 1.0}
    raise NotImplementedError(f"HF finetune for task {task!r} not wired")


class UnigramTrainer:
    """Deterministic twin trainer (no torch): REAL metrics from
    DataFrame computations, clearly marked as a stand-in for the HF
    path — the same role the hash embedder plays for pgml.embed.

    - classification tasks: majority-class model; micro accuracy and
      per-class-averaged f1 on the held-out test split.
    - conversation: add-one-smoothed unigram LM fit on the train
      assistant turns, evaluated as perplexity of the test assistant
      turns (an honest, scale-shaped LM metric: two aggregate scans).
    """

    def __call__(self, task: str, dataset: TextDataset, hyperparams: dict,
                 artifact_dir: str) -> dict:
        os.makedirs(artifact_dir, exist_ok=True)
        if task in (TASK_TEXT_CLASSIFICATION, TASK_TEXT_PAIR_CLASSIFICATION):
            return self._classify(dataset, artifact_dir)
        return self._conversation(dataset, artifact_dir)

    def _classify(self, dataset: TextDataset, artifact_dir: str) -> dict:
        maj_row = (
            dataset.train_df.groupBy("class").count()
            .orderBy(F.desc("count"), "class").head()
        )
        majority = maj_row["class"]
        test = dataset.test_df
        n = test.count() or 1
        counts = {r["class"]: r["cnt"] for r in
                  test.groupBy("class").agg(F.count("*").alias("cnt")).collect()}
        correct = counts.get(majority, 0)
        accuracy = correct / n
        # f1 per class averaged: majority class f1 vs 0 for the rest
        prec = accuracy  # of predicted-majority, fraction actually majority
        rec = 1.0 if counts.get(majority) else 0.0
        f1_major = (2 * prec * rec / (prec + rec)) if (prec + rec) else 0.0
        f1 = f1_major / max(len(counts), 1)
        with open(os.path.join(artifact_dir, "model.json"), "w") as f:
            json.dump({"type": "majority_class", "class": majority}, f)
        return {"accuracy": accuracy, "f1": f1,
                "num_distinct_labels": dataset.num_distinct_labels}

    def _conversation(self, dataset: TextDataset, artifact_dir: str) -> dict:
        from postgresml_spark.functions.text import tokenize

        train_toks = dataset.train_df.select(
            F.explode(tokenize(F.col("assistant"))).alias("tok")
        )
        vocab = train_toks.groupBy("tok").agg(F.count("*").alias("cnt"))
        totals = vocab.agg(
            F.sum("cnt").alias("n"), F.count("*").alias("v")
        ).head()
        n_tok, v_size = totals["n"] or 0, totals["v"] or 1
        test_toks = dataset.test_df.select(
            F.explode(tokenize(F.col("assistant"))).alias("tok")
        )
        # add-one smoothing: p(w) = (cnt+1) / (N+V+1); unseen -> 1/(N+V+1)
        denom = float(n_tok + v_size + 1)
        scored = test_toks.join(vocab, "tok", "left").select(
            F.log((F.coalesce(F.col("cnt"), F.lit(0)) + 1) / F.lit(denom)).alias("lp")
        )
        row = scored.agg(F.avg("lp").alias("alp"), F.count("*").alias("m")).head()
        ppl = math.exp(-row["alp"]) if row["m"] else float("inf")
        with open(os.path.join(artifact_dir, "model.json"), "w") as f:
            json.dump({"type": "unigram_lm", "vocab_size": int(v_size),
                       "train_tokens": int(n_tok)}, f)
        return {"perplexity": ppl, "vocab_size": float(v_size)}


# ---------------------------------------------------------------------------
# tune() — the api.rs:846-995 driver flow
# ---------------------------------------------------------------------------

def tune(
    spark: SparkSession,
    project: str,
    task: str | None = None,
    relation: DataFrame | str | None = None,
    y_column: str | None = None,
    model_name: str | None = None,
    hyperparams: dict | None = None,
    dataset_args: dict | None = None,
    test_size: float = 0.25,
    test_sampling: str = "last",
    automatic_deploy: bool = True,
    order_col: str | None = None,
    registry: Registry | None = None,
    trainer=None,
) -> dict:
    """Fine-tune lifecycle: dataset build → trainer → registry model
    row → deploy-if-better. Returns {status, task, algorithm, deployed,
    metrics, model_id} (the reference's TableIterator row)."""
    registry = registry or Registry(spark)
    if task is None:
        proj = registry.get_project(project)
        if proj is None:
            raise ValueError("task is required for a new project")
        task = proj["task"]
    if task not in TUNE_TASK_METRIC:
        raise ValueError(f"unsupported tune task {task!r}")
    project_id = registry.find_or_create_project(project, task)

    df = spark.table(relation) if isinstance(relation, str) else relation
    if df is None:
        raise ValueError("relation is required")

    dataset = build_text_dataset(
        df, task, dataset_args=dataset_args, test_size=test_size,
        sampling=test_sampling, order_col=order_col,
    )
    snapshot_id = registry.add_snapshot(
        relation if isinstance(relation, str) else "<dataframe>",
        y_column or "class", test_size, test_sampling,
        {"columns": dataset.columns, "num_rows": dataset.num_rows},
    )

    # v1 compat: stash model/project names into hyperparams (api.rs:930-934)
    hp = dict(hyperparams or {})
    hp["model_name"] = model_name
    hp["project_name"] = project

    model_id = registry.reserve_id("models")
    artifact = registry.artifact_dir(model_id)
    trainer = trainer or hf_finetune
    t0 = time.time()
    metrics = trainer(task, dataset, hp, artifact)
    metrics["fit_time"] = time.time() - t0
    registry.add_model(
        project_id, snapshot_id, "transformers", "python", hp, metrics,
        artifact, model_id=model_id,
    )

    target_metric, higher_better = TUNE_TASK_METRIC[task]
    deployed = False
    if automatic_deploy:
        current = registry.deployed_model_id(project)
        cur = registry.model_metric(current, target_metric) if current else None
        new = metrics.get(target_metric)
        better = (
            cur is None or new is None
            or (new > cur if higher_better else new < cur)
        )
        if better:
            registry.add_deployment(project_id, model_id, "new_score")
            deployed = True

    return {
        "status": "successful", "project": project, "task": task,
        "algorithm": "transformers", "deployed": deployed,
        "metrics": metrics, "model_id": model_id,
    }
