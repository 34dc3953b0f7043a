"""``corpus_ingest``: the LLM-pipeline extension — Python/Arrow kernels,
shuffles, and persisted and checkpointed data.

Set-up stores the corpus in the repository as ``minhash_signatures``
output and as an ``exact_dedup`` content-hash set. One op screens one
fresh batch: near-duplicates against the stored signatures, exact
copies against the stored hashes, Gopher rules plus character entropy,
and ``merge_pq`` of the survivors into ``accepted`` (partitioned by
batch). The program's persisted intermediates are never released.
"""

from __future__ import annotations

from pathlib import Path

from common import Layer, Workload, dir_bytes, duck

SCHEMA = "corpus"
MIN_ENTROPY = 2.5


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    """Distinct word n-grams of lower-cased, whitespace-split text — an
    implementation independent of the program's."""
    toks = text.lower().split()
    if len(toks) < n:
        return {tuple(toks)}
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class CorpusIngest(Workload):
    name = "corpus_ingest"
    nominal_op_s = 6.0
    warmup_ops = 1

    def setup(self) -> None:
        from db2pq_spark.core import Engine
        from db2pq_spark.operators.dedup import exact_dedup, minhash_signatures

        self.eng = Engine(self.spark, self.work / "repo")
        corpus = self.spark.read.parquet(str(self.inputs / "corpus.parquet"))
        self.eng.df_to_pq(minhash_signatures(corpus, "text", "doc_id"),
                          SCHEMA, "signatures")
        self.eng.df_to_pq(exact_dedup(corpus, "text", "doc_id"),
                          SCHEMA, "content_hashes")

    def op(self, k: int) -> dict:
        from pyspark.sql import functions as F

        from db2pq_spark.operators.dedup import (
            exact_dedup_incremental,
            minhash_dedup_incremental,
        )
        from db2pq_spark.operators.filtering import char_entropy, gopher_rules

        tr, eng = self.tracer, self.eng
        batch = self.spark.read.parquet(str(self.inputs / f"batch_{k:03d}.parquet"))
        near_t, exact_t, qual_t = (f"near_b{k:03d}", f"exact_b{k:03d}",
                                   f"quality_b{k:03d}")
        with tr.step("operators.dedup.minhash_incremental"):
            near = minhash_dedup_incremental(
                batch, eng.read_pq(SCHEMA, "signatures"), "text", "doc_id")
            eng.df_to_pq(near, SCHEMA, near_t)
        with tr.step("operators.dedup.exact_incremental"):
            exact = exact_dedup_incremental(
                batch, eng.read_pq(SCHEMA, "content_hashes"), "text", "doc_id")
            eng.df_to_pq(exact, SCHEMA, exact_t)
        with tr.step("operators.filtering.quality_flags"):
            ent = char_entropy(batch, "text", "doc_id", impl="arrow")
            flags = gopher_rules(batch, "text", "doc_id") \
                .join(ent.select("id", "entropy"), "id")
            eng.df_to_pq(flags, SCHEMA, qual_t)
        with tr.step("core.merge_pq"):
            dups = eng.read_pq(SCHEMA, near_t).select(F.col("batch_id").alias("doc_id"))
            copies = eng.read_pq(SCHEMA, exact_t).filter("is_duplicate") \
                .select(F.col("id").alias("doc_id"))
            good = eng.read_pq(SCHEMA, qual_t) \
                .filter(F.col("passes") & (F.col("entropy") >= MIN_ENTROPY)) \
                .select(F.col("id").alias("doc_id"))
            survivors = (batch.withColumn("batch", F.lit(k))
                         .join(dups, "doc_id", "left_anti")
                         .join(copies, "doc_id", "left_anti")
                         .join(good, "doc_id", "left_semi"))
            eng.merge_pq(survivors, SCHEMA, "accepted", key_cols=["doc_id"],
                         partition_cols=["batch"])
        return {"units": self.facts["batch_docs"]}

    def side_measure(self, k: int) -> dict:
        part = Path(self.eng.data_dir) / SCHEMA / "accepted.parquet" / f"batch={k}"
        return {"merge_bytes": dir_bytes(part)}

    def check_run(self, done: list[int]) -> list[tuple[int | None, str]]:
        """Per batch: every planted pair found, every reported pair a
        true near-duplicate, exact flags equal the planted copies, and
        the accepted partition holds exactly the planted survivors."""
        import pyarrow.parquet as pq

        corpus = pq.read_table(self.inputs / "corpus.parquet").to_pydict()
        ctext = dict(zip(corpus["doc_id"], corpus["text"]))
        repo = Path(self.eng.data_dir) / SCHEMA
        con = duck()
        problems = []
        self.found = self.planted = 0
        self.near_counts = []
        self.checks_run |= {"planted_recall", "pair_jaccard", "exact_flags",
                            "accepted_survivors"}
        for k in done:
            planted = self.facts["batches"][k]
            batch = pq.read_table(self.inputs / f"batch_{k:03d}.parquet").to_pydict()
            btext = dict(zip(batch["doc_id"], batch["text"]))
            pairs = con.sql(f"SELECT batch_id, corpus_id FROM read_parquet("
                            f"'{repo}/near_b{k:03d}.parquet/*.parquet')").fetchall()
            self.near_counts.append(len(pairs))
            want = {tuple(p) for p in planted["near_pairs"]}
            got = set(pairs)
            self.found += len(want & got)
            self.planted += len(want)
            if want - got:
                problems.append((k, f"batch {k}: {len(want - got)} planted pairs missed"))
            weak = [p for p in got if jaccard(btext[p[0]], ctext[p[1]]) < 0.7]
            if weak:
                problems.append((k, f"batch {k}: {len(weak)} reported pairs below J=0.7"))
            flagged = {r[0] for r in con.sql(
                f"SELECT id FROM read_parquet('{repo}/exact_b{k:03d}.parquet/*.parquet') "
                "WHERE is_duplicate").fetchall()}
            if flagged != set(planted["exact_ids"]):
                problems.append((k, f"batch {k}: exact flags differ from the planted copies"))
            accepted = {r[0] for r in con.sql(
                f"SELECT doc_id FROM read_parquet('{repo}/accepted.parquet/*/*.parquet', "
                f"hive_partitioning = true) WHERE batch = {k}").fetchall()}
            if accepted != set(planted["survivor_ids"]):
                problems.append((k, f"batch {k}: accepted {len(accepted)} docs, "
                                f"want the {len(planted['survivor_ids'])} planted survivors"))
        con.close()
        return problems

    def schema_dir(self) -> Path:
        return Path(self.eng.data_dir) / SCHEMA

    def layers(self, traced: list[int], ops: dict[int, dict]) -> dict[str, Layer]:
        tr = self.tracer
        return {
            "operators.dedup.minhash_incremental_s": Layer.med(
                tr.durations("operators.dedup.minhash_incremental"), "s"),
            "operators.dedup.exact_incremental_s": Layer.med(
                tr.durations("operators.dedup.exact_incremental"), "s"),
            "operators.dedup.near_pairs_per_batch": Layer.mean(self.near_counts, "count"),
            "operators.dedup.planted_recall": Layer(
                self.found / max(1, self.planted), "ratio"),
            "operators.filtering.quality_flags_s": Layer.med(
                tr.durations("operators.filtering.quality_flags"), "s"),
            "core.merge_pq_s": Layer.med(tr.durations("core.merge_pq"), "s"),
            "core.merge_bytes_written_per_op": Layer.mean(
                [ops[k]["side"]["merge_bytes"] for k in traced], "B"),
        }
