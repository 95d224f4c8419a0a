"""Regression tests for the round-5 ADVICE fixes:
- rule_filter twins agree on wordless docs (empty/whitespace-only/null)
- dup_span_removal honors a non-default text_col end-to-end (incl. in
  corpus_pipeline) and hands back the caller's row
- blocklist_filter_sql keeps the corpus when the blocklist contains NULL
- temperature_sample tolerates NULL strata (excluded, never sampled)
- phash64 returns a signed 64-bit int in pure Python (numpy>=2.0 raises
  OverflowError on out-of-range uint64->int64 conversion)
"""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F


class TestRuleFilterWordlessTwinParity:
    CASES = ["", "   ", "\n\n\t ", None, "one two"]

    def test_reasons_identical_both_engines(self, spark):
        from ocr_spark.operators.text_analysis import (
            rule_filter_select,
            rule_filter_sql,
        )

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.CASES)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["keep"], list(r["reasons"]))
            for r in rule_filter_select(docs, F.col("text")).collect()
        }
        import pandas as pd

        con = duckdb.connect()
        src = pd.DataFrame(
            {"doc_id": range(len(self.CASES)), "text": self.CASES}
        )
        con.register("src", src)
        con.execute("CREATE TABLE documents AS SELECT * FROM src")
        oracle = {
            r[0]: (r[1], list(r[2]))
            for r in con.execute(rule_filter_sql()).fetchall()
        }
        assert got == oracle
        # the wordless docs must fire mean_word_len in BOTH engines
        for i, t in enumerate(self.CASES):
            if not (t or "").split():
                assert "mean_word_len" in got[i][1], (i, got[i])


class TestDupSpanRemovalTextCol:
    def test_non_default_text_col(self, spark):
        from ocr_spark.operators.corpus_clean import dup_span_removal

        docs = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f x y")],
            "doc_id long, body string",
        )
        out = dup_span_removal(docs, n=6, min_count=2, text_col="body")
        assert "body" in out.columns and "text" not in out.columns
        rows = {r["doc_id"]: r["body"] for r in out.collect()}
        # the shared 6-gram 'a b c d e f' is removed from both docs
        assert rows[1] == "g h" and rows[2] == "x y"

    @pytest.mark.parametrize("text_col", ["text", "body"])
    def test_returns_the_callers_row(self, spark, text_col):
        """The input's columns in their order, text rewritten in place,
        then n_tokens and n_removed; the other columns pass through."""
        from ocr_spark.operators.corpus_clean import dup_span_removal

        rows = [
            ("en", 1, "a b c d e f g h", 15, "web"),
            ("de", 2, "a b c d e f x y", None, "books"),
            (None, 3, None, 0, "web"),
        ]
        docs = spark.createDataFrame(
            rows,
            f"lang string, doc_id long, {text_col} string, n_chars long, "
            "source string",
        )
        out = dup_span_removal(docs, n=6, min_count=2, text_col=text_col)
        assert out.columns == docs.columns + ["n_tokens", "n_removed"]
        got = sorted((tuple(r) for r in out.collect()), key=lambda t: t[1])
        assert got == [
            ("en", 1, "g h", 15, "web", 8, 6),
            ("de", 2, "x y", None, "books", 8, 6),
            (None, 3, None, 0, "web", 0, 0),
        ]

    def test_pipeline_dup_span_with_text_col(self, spark):
        from ocr_spark.operators.corpus import corpus_pipeline

        docs = spark.createDataFrame(
            [
                (
                    i,
                    "the quick brown fox and the lazy dog have words to be "
                    "sentences. Good one. Third sentence here. "
                    + ("shared run of six tokens exactly here " * 2 if i < 2 else f"uniq{i} ")
                    + "tail of normal prose that keeps quality fine.",
                )
                for i in range(4)
            ],
            "doc_id long, body string",
        )
        out = corpus_pipeline(
            docs,
            min_quality=0.0,
            dup_span_n=6,
            text_col="body",
        )
        assert "body" in out.columns
        assert out.count() > 0

    CLASH_ROWS = [
        (1, "alpha beta gamma the river runs cold under grey stone bridges", 7),
        (2, "alpha beta gamma a small market sells bread and fresh fish daily", 8),
        (3, "nine tall ships sailed north past the lighthouse before dawn", 9),
    ]

    def test_counter_name_clash_is_refused(self, spark):
        from ocr_spark.operators.corpus_clean import (
            dup_span_removal,
            dup_span_removal_sql,
        )

        docs = spark.createDataFrame(
            self.CLASH_ROWS, "doc_id long, text string, n_tokens long"
        )
        with pytest.raises(ValueError, match="n_tokens"):
            dup_span_removal(docs, n=3)
        con = duckdb.connect()
        src = "SELECT * FROM (VALUES (1, 'a b c', 5)) t(doc_id, text, n_removed)"
        with pytest.raises(duckdb.BinderException, match="n_removed"):
            con.execute(dup_span_removal_sql(src, n=2))

    def test_pipeline_keeps_callers_counter_columns(self, spark):
        """corpus_pipeline returns the input's own columns with only the
        text rewritten: a user n_tokens column comes through unchanged
        in both engines."""
        import pandas as pd

        from ocr_spark.operators.corpus import corpus_pipeline, corpus_pipeline_sql

        docs = spark.createDataFrame(
            self.CLASH_ROWS, "doc_id long, text string, n_tokens long"
        )
        out = corpus_pipeline(docs, dup_span_n=3, min_quality=0.0, scrub=False)
        assert out.columns == docs.columns
        got = sorted(tuple(r) for r in out.collect())
        assert [(i, n) for i, _, n in got] == [(1, 7), (2, 8), (3, 9)]
        assert got[0][1] == "the river runs cold under grey stone bridges"
        con = duckdb.connect()
        con.register("src", pd.DataFrame(self.CLASH_ROWS, columns=docs.columns))
        con.execute("CREATE TABLE documents AS SELECT * FROM src")
        sql = corpus_pipeline_sql(
            min_quality=0.0, dup_span_n=3, out_cols="doc_id, text, n_tokens"
        )
        assert sorted(con.execute(sql).fetchall()) == got


class TestBlocklistSqlNullEntry:
    def test_null_in_blocklist_keeps_corpus(self):
        from ocr_spark.functions.url import blocklist_filter_sql

        con = duckdb.connect()
        src = (
            "SELECT * FROM (VALUES (1, 'http://keep.com/a'), "
            "(2, 'http://spam.com/b'), (3, NULL)) AS t(doc_id, url)"
        )
        blocked = "SELECT * FROM (VALUES ('spam.com'), (NULL)) AS b(domain)"
        rows = con.execute(blocklist_filter_sql(src, blocked)).fetchall()
        kept = {r[0] for r in rows}
        # NULL blocklist entry must not nuke the corpus; NULL url is kept
        assert kept == {1, 3}


class TestTemperatureSampleNullStratum:
    def test_null_stratum_excluded_not_crashing(self, spark):
        from ocr_spark.operators.corpus_clean import temperature_sample

        docs = spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else None) for i in range(40)],
            "doc_id long, lang string",
        )
        out = temperature_sample(docs, total_target=10, temperature=0.7)
        rows = out.collect()
        assert all(r["stratum"] == "en" for r in rows)


class TestRuleFilterBoardRow:
    def test_flat_columns_and_twin_rows_equal(self, spark, tmp_path):
        """The board's rule_filter row and its DuckDB twin return flat
        columns only (reasons comma-joined) and the same rows — the
        driver's compare cannot canonicalize array cells."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import types as T

        import __spark_entry__ as E

        good = "The quick brown fox jumps over the lazy dog and runs far away. " * 10
        texts = [good, "lorem ipsum {x}", "", None, "... ... ...", good + " # " * 30]
        pq.write_table(
            pa.table({"doc_id": list(range(len(texts))), "text": texts}),
            str(tmp_path / "documents.parquet"),
        )
        sdf = E.q_rule_filter(spark, str(tmp_path))
        nested = (T.ArrayType, T.MapType, T.StructType)
        assert not [f.name for f in sdf.schema.fields if isinstance(f.dataType, nested)]
        got = sorted(tuple(r) for r in sdf.collect())

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'documents.parquet'}')"
        )
        cur = con.execute(E._rule_filter_board_sql())
        assert [d[0] for d in cur.description] == sdf.columns
        want = sorted(cur.fetchall())
        assert all(isinstance(v, (int, bool, str)) for row in want for v in row)
        assert got == want
        # the joined reasons really cover none, one and several rules
        assert {r[2].count(",") for r in got if r[2]} >= {0, 1}
        assert ("",) in {(r[2],) for r in got}


def _window_nodes(plan) -> list:
    """Every Window / WindowGroupLimit node of a physical plan, also inside
    adaptive plans (their current plan) and cached relations (reached via
    innerChildren)."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind in ("WindowExec", "WindowGroupLimitExec"):
            out.append(node)
        elif kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        for seq in (node.children(), node.innerChildren()):
            stack += [seq.apply(i) for i in range(seq.size())]
    return out


class TestQueryBoardCap:
    def test_at_most_50_queries_each_with_an_oracle_twin(self):
        """The driver records only the FIRST 50 registered queries() in
        CORRECTNESS_r{N}.json (r4 silently lost 23 of 73). The board must
        stay at the cap — adding a query means merging or retiring another
        — and every entry needs its oracle twin."""
        import __spark_entry__ as E

        qs = E.queries()
        assert len(qs) <= 50
        oracles = E.oracle_sql()
        assert [k for k in qs if k not in oracles] == []
        assert [k for k in oracles if k not in qs] == []

    def test_readme_counts_match_reality(self):
        """README's self-reported query count must equal len(queries()) —
        r4's VERDICT caught hand-written counters drifting."""
        import os
        import re

        import __spark_entry__ as E

        readme = open(
            os.path.join(os.path.dirname(E.__file__), "README.md"),
            encoding="utf-8",
        ).read()
        m = re.search(r"exactly (\d+) `queries\(\)`", readme)
        assert m and int(m.group(1)) == len(E.queries())

    def test_every_query_row_is_flat(self, spark):
        """Rows are canonicalized with pandas, which cannot hash nested
        values (rule_filter's reasons array failed it). No queries() row may
        return an Array, Map or Struct column.

        The same frames are also linted for single-partition windows: a
        Window node with an empty partition spec pulls its whole input into
        one task (Spark logs `WindowExec: No Partition Defined`)."""
        from pyspark.sql import types as T

        import __spark_entry__ as E
        from tests.test_round4_fixes import SF_DIR

        nested = (T.ArrayType, T.MapType, T.StructType)
        found, unpartitioned, windowed = {}, {}, set()
        for name, q in E.queries().items():
            df = q(spark, SF_DIR)
            cols = [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, nested)
            ]
            if cols:
                found[name] = cols
            windows = _window_nodes(df._jdf.queryExecution().executedPlan())
            if windows:
                windowed.add(name)
            bad = [w.toString() for w in windows if w.partitionSpec().isEmpty()]
            if bad:
                unpartitioned[name] = bad
        assert found == {}
        assert unpartitioned == {}
        assert windowed  # the walk reaches windows (lang_id and others have them)


class TestPhash64PurePython:
    def test_high_bit_hash_is_signed_python_int(self):
        from ocr_spark.operators.multimodal import phash64

        rng = np.random.RandomState(7)
        seen_negative = False
        for _ in range(20):
            img = rng.randint(0, 256, size=(64, 64)).astype(np.float64)
            h = phash64(img)
            assert isinstance(h, int)
            assert -(1 << 63) <= h < (1 << 63)
            seen_negative |= h < 0
        assert seen_negative  # bit 63 set on ~half of hashes


# held-out paragraphs for the profile-based language ID (NOT in the training
# samples of scripts/gen_lang_profiles.py — training on these would make the
# accuracy bar meaningless)
LANG_HELD_OUT = {
 "en": "please close the door before you leave the house tonight. my brother works in a small shop near the station and he often comes home late in the evening. the book you gave me last year is still on the table.",
 "de": "bitte schließen sie die tür bevor sie heute abend das haus verlassen. mein bruder arbeitet in einem kleinen laden in der nähe des bahnhofs und kommt oft spät nach hause. das buch das du mir letztes jahr gegeben hast liegt noch auf dem tisch.",
 "fr": "veuillez fermer la porte avant de quitter la maison ce soir. mon frère travaille dans un petit magasin près de la gare et il rentre souvent tard le soir. le livre que tu m'as donné l'année dernière est encore sur la table.",
 "es": "por favor cierra la puerta antes de salir de la casa esta noche. mi hermano trabaja en una tienda pequeña cerca de la estación y muchas veces vuelve tarde por la noche. el libro que me diste el año pasado todavía está sobre la mesa.",
 "pt": "por favor feche a porta antes de sair de casa esta noite. meu irmão trabalha numa loja pequena perto da estação e muitas vezes volta tarde da noite. o livro que você me deu no ano passado ainda está em cima da mesa.",
 "it": "per favore chiudi la porta prima di uscire di casa stasera. mio fratello lavora in un piccolo negozio vicino alla stazione e spesso torna a casa tardi la sera. il libro che mi hai dato l'anno scorso è ancora sul tavolo.",
 "nl": "sluit alstublieft de deur voordat u vanavond het huis verlaat. mijn broer werkt in een kleine winkel bij het station en hij komt vaak laat thuis. het boek dat je me vorig jaar gaf ligt nog op de tafel.",
 "sv": "stäng dörren innan du lämnar huset ikväll. min bror arbetar i en liten affär nära stationen och han kommer ofta hem sent på kvällen. boken som du gav mig förra året ligger fortfarande på bordet.",
 "fi": "sulje ovi ennen kuin lähdet talosta tänä iltana. veljeni työskentelee pienessä kaupassa aseman lähellä ja hän tulee usein myöhään kotiin illalla. kirja jonka annoit minulle viime vuonna on yhä pöydällä.",
 "pl": "proszę zamknąć drzwi zanim wyjdziesz z domu dzisiaj wieczorem. mój brat pracuje w małym sklepie niedaleko dworca i często wraca do domu późno wieczorem. książka którą dałeś mi w zeszłym roku wciąż leży na stole.",
 "cs": "prosím zavřete dveře než dnes večer odejdete z domu. můj bratr pracuje v malém obchodě poblíž nádraží a často se vrací domů pozdě večer. kniha kterou jsi mi dal loni je pořád na stole.",
 "tr": "lütfen bu akşam evden çıkmadan önce kapıyı kapatın. kardeşim istasyonun yakınındaki küçük bir dükkanda çalışıyor ve eve çoğu zaman geç geliyor. geçen yıl bana verdiğin kitap hala masanın üzerinde duruyor.",
 "id": "tolong tutup pintunya sebelum kamu meninggalkan rumah malam ini. kakak saya bekerja di sebuah toko kecil dekat stasiun dan dia sering pulang larut malam. buku yang kamu berikan kepada saya tahun lalu masih ada di atas meja.",
 "vi": "vui lòng đóng cửa trước khi bạn rời khỏi nhà tối nay. anh trai tôi làm việc ở một cửa hàng nhỏ gần nhà ga và anh ấy thường về nhà muộn vào buổi tối. cuốn sách bạn tặng tôi năm ngoái vẫn còn trên bàn.",
 "ru": "пожалуйста закройте дверь прежде чем уйти из дома сегодня вечером. мой брат работает в маленьком магазине возле вокзала и часто приходит домой поздно вечером. книга которую ты дал мне в прошлом году всё ещё лежит на столе.",
 "el": "παρακαλώ κλείστε την πόρτα πριν φύγετε από το σπίτι απόψε. ο αδερφός μου δουλεύει σε ένα μικρό μαγαζί κοντά στον σταθμό και συχνά γυρίζει σπίτι αργά το βράδυ. το βιβλίο που μου έδωσες πέρυσι είναι ακόμα πάνω στο τραπέζι.",
 "hu": "kérem csukja be az ajtót mielőtt ma este elhagyja a házat. a bátyám egy kis boltban dolgozik az állomás közelében és gyakran későn ér haza este. a könyv amit tavaly adtál nekem még mindig az asztalon van.",
 "ro": "vă rog să închideți ușa înainte de a pleca de acasă în seara asta. fratele meu lucrează într-un magazin mic lângă gară și adesea vine acasă târziu seara. cartea pe care mi-ai dat-o anul trecut este încă pe masă.",
 "sw": "tafadhali funga mlango kabla ya kuondoka nyumbani usiku wa leo. kaka yangu anafanya kazi katika duka dogo karibu na stesheni na mara nyingi hurudi nyumbani usiku. kitabu ulichonipa mwaka jana bado kiko mezani.",
 "da": "luk venligst døren før du forlader huset i aften. min bror arbejder i en lille butik i nærheden af stationen og han kommer ofte sent hjem om aftenen. bogen som du gav mig sidste år ligger stadig på bordet.",
 "no": "vennligst lukk døren før du forlater huset i kveld. broren min jobber i en liten butikk i nærheten av stasjonen og han kommer ofte sent hjem om kvelden. boken som du ga meg i fjor ligger fortsatt på bordet.",
}

# written-form near-identical pairs where confusion is acceptable (Danish /
# Norwegian Bokmål orthography differs by a handful of words)
LANG_CONFUSABLE = {("da", "no"), ("no", "da")}


class TestLangIdProfiles:
    def test_held_out_paragraph_accuracy_and_twin_parity(self, spark):
        import duckdb
        import pandas as pd

        from ocr_spark.operators.text_analysis import (
            lang_id_profile,
            lang_id_profile_sql,
        )

        langs = list(LANG_HELD_OUT)
        df = spark.createDataFrame(
            [(i, LANG_HELD_OUT[l]) for i, l in enumerate(langs)],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["lang_pred"] for r in lang_id_profile(df).collect()
        }
        con = duckdb.connect()
        con.register(
            "docs",
            pd.DataFrame(
                {"doc_id": range(len(langs)),
                 "text": [LANG_HELD_OUT[l] for l in langs]}
            ),
        )
        duck = dict(
            con.execute(
                lang_id_profile_sql("SELECT doc_id, text FROM docs")
            ).fetchall()
        )
        wrong = []
        for i, lang in enumerate(langs):
            assert got[i] == duck[i], (lang, got[i], duck[i])  # exact twin
            if got[i] != lang and (lang, got[i]) not in LANG_CONFUSABLE:
                wrong.append((lang, got[i]))
        assert not wrong, wrong

    def test_no_profile_hit_falls_back_to_stopword_then_und(self, spark):
        from ocr_spark.operators.text_analysis import lang_id_profile

        df = spark.createDataFrame(
            [(1, "0123456789"), (2, ""), (3, None)],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["lang_pred"] for r in lang_id_profile(df).collect()}
        assert got == {1: "und", 2: "und", 3: "und"}


class TestUnpersistStages:
    def test_zero_cached_rdds_after_unpersist(self, spark):
        """corpus_pipeline(stats=...) exposes its persisted stage handles;
        unpersist_stages releases every one after the output materializes
        (no reliance on LRU eviction in long-lived sessions)."""
        from ocr_spark.operators.corpus import corpus_pipeline, unpersist_stages

        docs = spark.createDataFrame(
            [
                (
                    i,
                    "the quick brown fox and the lazy dog share many plain "
                    "words. Good sentence one. Another sentence two. "
                    f"unique tail {i} keeps the quality filter satisfied.",
                )
                for i in range(6)
            ],
            "doc_id long, text string",
        )
        jsc = spark.sparkContext._jsc.sc()
        # other tests in the shared session may hold their own caches —
        # assert on the DELTA this pipeline adds, not the absolute count
        before = jsc.getPersistentRDDs().size()
        stats: dict = {}
        out = corpus_pipeline(docs, min_quality=0.0, stats=stats)
        out.write.format("noop").mode("overwrite").save()  # materialize
        assert len(stats["persisted"]) == 2  # filtered + kept boundaries
        released = unpersist_stages(stats)
        assert released == 2
        assert jsc.getPersistentRDDs().size() <= before
        assert unpersist_stages(stats) == 0  # idempotent

    def test_no_stats_dict_still_works(self, spark):
        from ocr_spark.operators.corpus import corpus_pipeline

        docs = spark.createDataFrame(
            [(1, "plain words in a sentence. More words here. And more.")],
            "doc_id long, text string",
        )
        assert corpus_pipeline(docs, min_quality=0.0).count() >= 0
