"""Training-sequence materialization: token-id encoding, sequence
filling (reference vs grouped bit-identity, DuckDB twin), deterministic
shard writes."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_spark.functions.bpe import (
    PAD_ID,
    SEP_ID,
    UNK_ID,
    bpe_train,
    bpe_vocab,
    encode_token_ids,
    load_merges,
    token_counts_bpe,
)
from ocr_spark.operators.corpus_clean import pack_sequences
from ocr_spark.operators.training_data import (
    materialize_sequences,
    materialize_sequences_grouped,
    materialize_sequences_sql,
    materialize_training,
    read_shard_manifest,
    read_training_shards,
    write_training_shards,
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "the the the the the the the the",
    "a",
    "",
    None,
    "punctuation, splits; properly! (yes) 12345",
    "sphinx of black quartz judge my vow " * 40,  # oversize candidate
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def merges():
    return load_merges()


class TestEncodeTokenIds:
    def test_size_matches_count_operator(self, spark, docs, merges):
        ids = encode_token_ids(docs, merges=merges)
        counts = token_counts_bpe(docs, merges=merges)
        j = (
            ids.select("doc_id", F.size("input_ids").alias("n_ids"))
            .join(counts, "doc_id")
            .collect()
        )
        assert len(j) == len(TEXTS)
        for r in j:
            assert r["n_ids"] == r["n_tokens_bpe"], r

    def test_sep_adds_exactly_one(self, spark, docs, merges):
        plain = {
            r["doc_id"]: r["input_ids"]
            for r in encode_token_ids(docs, merges=merges).collect()
        }
        with_sep = {
            r["doc_id"]: r["input_ids"]
            for r in encode_token_ids(
                docs, merges=merges, sep_id=SEP_ID
            ).collect()
        }
        for k, ids in with_sep.items():
            assert ids == plain[k] + [SEP_ID]

    def test_roundtrip_through_inverse_vocab(self, docs, merges, spark):
        """Decoding the ids must reconstruct the concatenated pre-tokens
        exactly (no unks on plain English)."""
        import re

        from ocr_spark.functions.bpe import PRETOKEN_PATTERN

        vocab = bpe_vocab(merges)
        inv = {v: k for k, v in vocab.items()}
        pre = re.compile(PRETOKEN_PATTERN)
        got = {
            r["doc_id"]: r["input_ids"]
            for r in encode_token_ids(docs, merges=merges).collect()
        }
        for i, t in enumerate(TEXTS):
            expect = "".join(pre.findall(t)) if t else ""
            assert UNK_ID not in got[i]
            assert "".join(inv[x] for x in got[i]) == expect

    def test_unknown_chars_emit_unk(self, spark, merges):
        df = spark.createDataFrame([(0, "héllo")], "doc_id long, text string")
        # é is outside printable ASCII and outside the fixture merges
        ids = encode_token_ids(df, merges=merges).collect()[0]["input_ids"]
        assert UNK_ID in ids

    def test_vocab_is_deterministic_and_dense(self, merges):
        v1, v2 = bpe_vocab(merges), bpe_vocab(merges)
        assert v1 == v2
        assert sorted(v1.values()) == list(range(3, 3 + len(v1)))
        assert len(set(v1.values())) == len(v1)


def _ids_and_packed(docs, merges, max_tokens, n_buckets=8):
    ids = encode_token_ids(docs, merges=merges, sep_id=SEP_ID)
    counts = ids.select("doc_id", F.size("input_ids").alias("_n"))
    packed = pack_sequences(
        counts, max_tokens=max_tokens, n_buckets=n_buckets, tokens_col="_n"
    )
    return ids, packed


class TestMaterializeSequences:
    MAX = 32

    @pytest.fixture(scope="class")
    def mats(self, spark, docs, merges):
        ids, packed = _ids_and_packed(docs, merges, self.MAX)
        ids = ids.persist()
        packed = packed.persist()
        ref = materialize_sequences(ids, packed, self.MAX)
        grp = materialize_sequences_grouped(
            ids, packed, self.MAX, n_buckets=8
        )
        return ids, packed, ref, grp

    def test_exact_length_and_pad(self, mats):
        _, _, ref, _ = mats
        for r in ref.collect():
            assert len(r["input_ids"]) == self.MAX
            if not r["truncated"]:
                body = r["input_ids"][: r["n_tokens"]]
                tail = r["input_ids"][r["n_tokens"] :]
                assert all(x == PAD_ID for x in tail)
                assert PAD_ID not in body or r["n_tokens"] == 0

    def test_every_token_once_in_order(self, mats):
        """Concatenating sequences per bucket in (k) order reproduces each
        doc's id stream exactly once, in doc order within the bucket."""
        ids, packed, ref, _ = mats
        id_map = {r["doc_id"]: list(r["input_ids"]) for r in ids.collect()}
        asg = packed.collect()
        seqs = {r["seq_id"]: r for r in ref.collect()}
        # group assignment rows by seq, rebuild expectation
        from collections import defaultdict

        by_seq = defaultdict(list)
        for a in asg:
            by_seq[a["seq_id"]].append(a)
        assert set(by_seq) == set(seqs)
        for sid, rows in by_seq.items():
            rows.sort(key=lambda a: a["seq_pos"])
            expect = [x for a in rows for x in id_map[a["doc_id"]]]
            got = seqs[sid]
            assert got["n_docs"] == len(rows)
            assert got["n_tokens"] == len(expect)
            assert got["truncated"] == (len(expect) > self.MAX)
            body = expect[: self.MAX] + [PAD_ID] * max(
                0, self.MAX - len(expect)
            )
            assert list(got["input_ids"]) == body

    def test_grouped_bit_identical_to_reference(self, mats):
        _, _, ref, grp = mats
        a = sorted(map(tuple, ref.collect()))
        b = sorted(map(tuple, grp.collect()))
        assert [
            (s, list(i), d, n, t) for s, i, d, n, t in a
        ] == [(s, list(i), d, n, t) for s, i, d, n, t in b]

    def test_grouped_layout_independent(self, spark, docs, merges, mats):
        _, _, ref, _ = mats
        ids, packed = _ids_and_packed(docs, merges, self.MAX)
        grp2 = materialize_sequences_grouped(
            ids.repartition(7), packed.repartition(3), self.MAX, n_buckets=8
        )
        a = sorted((s, list(i), d, n, t) for s, i, d, n, t in ref.collect())
        b = sorted((s, list(i), d, n, t) for s, i, d, n, t in grp2.collect())
        assert a == b

    def test_duckdb_twin(self, mats, tmp_path):
        # parquet hand-off, the driver-harness convention: registering a
        # pandas object column of numpy arrays corrupts long lists in
        # duckdb 1.0 (observed: the 881-token doc came back scrambled)
        ids, packed, ref, _ = mats
        ids.write.parquet(str(tmp_path / "ids"))
        packed.write.parquet(str(tmp_path / "packed"))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW ids AS SELECT * FROM parquet_scan('{tmp_path}/ids/*.parquet')"
        )
        con.execute(
            f"CREATE VIEW packed AS SELECT * FROM parquet_scan('{tmp_path}/packed/*.parquet')"
        )
        twin = con.execute(materialize_sequences_sql(self.MAX)).fetchall()
        got = sorted(
            (s, list(i), d, n, t) for s, i, d, n, t in ref.collect()
        )
        exp = sorted(
            (s, [int(x) for x in i], int(d), int(n), bool(t))
            for s, i, d, n, t in twin
        )
        assert got == exp


class TestMaterializeTraining:
    def test_end_to_end_budget_and_sep(self, spark, docs, merges):
        stats = {}
        seqs = materialize_training(
            docs, merges=merges, max_tokens=64, n_buckets=4, stats=stats
        ).collect()
        n_docs = sum(r["n_docs"] for r in seqs)
        assert n_docs == len(TEXTS)
        n_sep = sum(list(r["input_ids"]).count(SEP_ID) for r in seqs)
        # every doc contributes exactly one sep unless its tail was cut
        assert n_sep == len(TEXTS) - sum(
            1 for r in seqs if r["truncated"]
        )
        for r in seqs:
            assert len(r["input_ids"]) == 64
            assert r["truncated"] == (r["n_tokens"] > 64)
        from ocr_spark.operators.corpus import unpersist_stages

        assert unpersist_stages(stats) == 1


class TestShardWriter:
    def test_deterministic_across_layouts(self, spark, docs, merges, tmp_path):
        ids, packed = _ids_and_packed(docs, merges, 32)
        seqs = materialize_sequences(ids, packed, 32)
        p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
        write_training_shards(seqs, p1, n_shards=4, seed=7)
        write_training_shards(
            seqs.repartition(13), p2, n_shards=4, seed=7
        )

        def slurp(p):
            df = read_training_shards(spark, p)
            return sorted(
                (r["shard"], r["seq_id"], list(r["input_ids"]))
                for r in df.collect()
            )

        a, b = slurp(p1), slurp(p2)
        assert a == b and len(a) == seqs.count()
        m = {
            r["shard"]: r
            for r in read_shard_manifest(spark, p1).collect()
        }
        from collections import Counter

        per_shard = Counter(s for s, _, _ in a)
        assert {k: v["n_seqs"] for k, v in m.items()} == dict(per_shard)
        assert sum(v["n_docs"] for v in m.values()) == len(TEXTS)

    def test_seed_changes_mix(self, spark, docs, merges, tmp_path):
        ids, packed = _ids_and_packed(docs, merges, 32)
        seqs = materialize_sequences(ids, packed, 32)
        p1, p2 = str(tmp_path / "s0"), str(tmp_path / "s1")
        write_training_shards(seqs, p1, n_shards=4, seed=0)
        write_training_shards(seqs, p2, n_shards=4, seed=1)
        a = {
            (r["seq_id"]): r["shard"]
            for r in read_training_shards(spark, p1).collect()
        }
        b = {
            (r["seq_id"]): r["shard"]
            for r in read_training_shards(spark, p2).collect()
        }
        assert set(a) == set(b)
        assert a != b  # 9+ sequences across 4 shards: collision ~0


class TestTrainedMergesCompose:
    def test_corpus_trained_tokenizer_feeds_materialization(self, spark):
        """bpe_train -> encode -> pack -> materialize on its own corpus."""
        corpus = ["low lower lowest " * 5, "new newer newest " * 5]
        merges = bpe_train(corpus, n_merges=32)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(corpus)],
            "doc_id long, text string",
        )
        from ocr_spark.operators.corpus import unpersist_stages

        stats = {}
        seqs = materialize_training(
            df, merges=merges, max_tokens=48, n_buckets=2, stats=stats
        ).collect()
        assert unpersist_stages(stats) == 1
        assert sum(r["n_docs"] for r in seqs) == 2
        vocab = bpe_vocab(merges)
        inv = {v: k for k, v in vocab.items()}
        for r in seqs:
            toks = [
                inv[x]
                for x in r["input_ids"]
                if x not in (PAD_ID, SEP_ID)
            ]
            assert all(UNK_ID != x for x in r["input_ids"])
            assert "".join(toks).startswith("lowlowerlowest") or "".join(
                toks
            ).startswith("newnewernewest")


class TestDocBoundaries:
    MAX = 32

    @pytest.fixture(scope="class")
    def bmats(self, spark, docs, merges):
        ids, packed = _ids_and_packed(docs, merges, self.MAX)
        ids, packed = ids.persist(), packed.persist()
        ref = materialize_sequences(ids, packed, self.MAX, boundaries=True)
        grp = materialize_sequences_grouped(
            ids, packed, self.MAX, n_buckets=8, boundaries=True
        )
        return ids, packed, ref, grp

    def test_starts_are_exclusive_cumsum(self, bmats):
        ids, packed, ref, _ = bmats
        id_len = {r["doc_id"]: len(r["input_ids"]) for r in ids.collect()}
        from collections import defaultdict

        by_seq = defaultdict(list)
        for a in packed.collect():
            by_seq[a["seq_id"]].append(a)
        for r in ref.collect():
            rows = sorted(by_seq[r["seq_id"]], key=lambda a: a["seq_pos"])
            expect, off = [], 0
            for a in rows:
                expect.append(off)
                off += id_len[a["doc_id"]]
            assert list(r["doc_starts"]) == expect
            assert all(s < self.MAX or r["truncated"] for s in expect)

    def test_grouped_matches_reference(self, bmats):
        _, _, ref, grp = bmats
        a = sorted((r["seq_id"], list(r["doc_starts"])) for r in ref.collect())
        b = sorted((r["seq_id"], list(r["doc_starts"])) for r in grp.collect())
        assert a == b

    def test_twin_with_boundaries(self, bmats, tmp_path):
        ids, packed, ref, _ = bmats
        ids.write.parquet(str(tmp_path / "ids"))
        packed.write.parquet(str(tmp_path / "packed"))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW ids AS SELECT * FROM parquet_scan('{tmp_path}/ids/*.parquet')"
        )
        con.execute(
            f"CREATE VIEW packed AS SELECT * FROM parquet_scan('{tmp_path}/packed/*.parquet')"
        )
        twin = con.execute(
            materialize_sequences_sql(self.MAX, boundaries=True)
        ).fetchall()
        got = sorted(
            (r["seq_id"], list(r["input_ids"]), list(r["doc_starts"]))
            for r in ref.collect()
        )
        exp = sorted(
            (s, [int(x) for x in i], [int(x) for x in d])
            for s, i, _, _, _, d in twin
        )
        assert got == exp


class TestReviewRegressions:
    """Round-5 session-4 review findings."""

    def test_bucket_mismatch_raises_not_silent(self, spark, docs, merges):
        ids, packed = _ids_and_packed(docs, merges, 32, n_buckets=8)
        # wrong n_buckets: docs bucket differently on the two sides
        with pytest.raises(Exception, match="n_buckets"):
            materialize_sequences_grouped(
                ids, packed, 32, n_buckets=5
            ).collect()

    def test_empty_frame_shard_write(self, spark, docs, merges, tmp_path):
        ids, packed = _ids_and_packed(docs, merges, 32)
        seqs = materialize_sequences(ids, packed, 32).where("n_docs < 0")
        p = str(tmp_path / "empty")
        write_training_shards(seqs, p, n_shards=4)  # must not raise
        assert read_shard_manifest(spark, p).count() == 0
        # empty dirs have no data files: schema-inference reads can't work,
        # the schema-supplied reader returns the empty frame
        from pyspark.sql import types as T

        schema = T.StructType(
            seqs.schema.fields + [T.StructField("shard", T.IntegerType())]
        )
        assert read_training_shards(spark, p, schema=schema).count() == 0

    def test_encode_len_parts_consistency(self, merges):
        from ocr_spark.functions.bpe import bpe_encode_len, bpe_encode_parts

        ranks = {pair: i for i, pair in enumerate(merges)}
        for w in ["the", "lowest", "a", "punctuation", "zzzzqqqq", "12345"]:
            assert bpe_encode_len(w, ranks) == len(bpe_encode_parts(w, ranks))
