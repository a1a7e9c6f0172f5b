"""Pure-python unit tests for the sketch primitives (no SparkSession)."""

import numpy as np
import pandas as pd
import pytest

from fast_er_spark.functions.minhash import minhash_batch
from fast_er_spark.functions.shingles import hash_shingles_batch, shingles
from fast_er_spark.functions.simhash import simhash_bands, simhash_batch
from oracle.reference import jaccard, shingle_set


def test_shingles_semantics():
    assert shingles("a b c d", 3) == ["a b c", "b c d"]
    assert shingles("a b", 3) == ["a b"]  # short -> whole input
    assert shingles("", 3) == []
    assert shingles("abcd", 3, "char") == ["abc", "bcd"]
    assert shingles("ab", 3, "char") == ["ab"]


def test_batch_hashes_match_per_string_cardinality():
    """hash_shingles_batch must produce the same DISTINCT-shingle counts and
    the same intersections as string shingles (hash identity, w.h.p.)."""
    texts = ["the quick brown fox jumps", "the quick brown fox leaps",
             "one two", "", None, "x " * 40]
    batch = hash_shingles_batch(pd.Series(texts), 3, "word", seed=1)
    for t, h in zip(texts, batch):
        if t is None:
            assert h.size == 0
            continue
        assert h.size == len(shingle_set(t, 3, "word"))
    # intersections: docs 0/1 share exactly the shingles their string sets share
    s0, s1 = shingle_set(texts[0], 3), shingle_set(texts[1], 3)
    inter_str = len(s0 & s1)
    inter_hash = len(np.intersect1d(batch[0], batch[1]))
    assert inter_hash == inter_str


def test_minhash_jaccard_estimate_accuracy():
    """Word 1-gram texts with a known token overlap: the share of equal
    signature slots estimates their Jaccard."""
    toks = [f"t{i}" for i in range(800)]
    doc_a = " ".join(toks[:400])
    for overlap in (100, 200, 300, 400):
        doc_b = " ".join(toks[:overlap] + toks[400 : 800 - overlap])
        true_j = overlap / (800 - overlap)
        sig_a, sig_b = minhash_batch(pd.Series([doc_a, doc_b]), 256, 1, "word", 42)
        est = float((sig_a == sig_b).mean())
        assert est == pytest.approx(true_j, abs=0.12), (overlap, true_j, est)


def test_minhash_batch_deterministic_and_empty_safe():
    texts = pd.Series(["hello world foo bar baz", "", None, "hello world foo bar baz"])
    s1 = minhash_batch(texts, 64, 3, "word", seed=7)
    s2 = minhash_batch(texts, 64, 3, "word", seed=7)
    assert list(s1[0]) == list(s2[0]) == list(s1[3])
    assert len(s1[0]) == 64
    # empty/None rows get no signature (the JVM kernel's contract), so they
    # can never collide with each other or with content rows
    assert s1[1] is None and s1[2] is None
    # nor across Arrow batches: two separate calls on a blank doc
    for mode in ("word", "char"):
        for _ in range(2):
            assert minhash_batch(pd.Series([""]), 128, 3, mode, 42)[0] is None


def test_simhash_near_duplicates_low_hamming():
    doc = "the quick brown fox jumps over the lazy dog " * 8
    near = doc.replace("lazy", "sleepy", 2)
    far = "completely different content about spark shuffles and joins " * 8
    fps = simhash_batch(pd.Series([doc, near, far]), 3, "word", 42)
    def hamming(a, b):
        return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")

    assert hamming(fps[0], fps[1]) <= 12
    assert hamming(fps[0], fps[2]) > 20
    # banding: near dups share a block at small hamming
    b0 = set(simhash_bands(int(fps[0])))
    b2 = set(simhash_bands(int(fps[2])))
    assert b0 != b2


def test_oracle_jaccard_consistency():
    a = shingle_set("w1 w2 w3 w4 w5", 3)
    b = shingle_set("w1 w2 w3 w4 w6", 3)
    assert jaccard(a, b) == pytest.approx(len(a & b) / len(a | b))
    assert jaccard(set(), set()) == 0.0


def test_oph_rejects_degenerate_num_perm():
    from fast_er_spark.functions.jvm_sketch import oph_signature_jvm

    # the power-of-two check runs before any Spark call: no session needed
    for bad in (1, 3, 0):
        with pytest.raises(ValueError):
            oph_signature_jvm("t", num_perm=bad)


def test_signature_kernel_rejects_unknown_mode():
    """The shingle mode alone picks the signature kernel: 'word' or 'char',
    nothing else (checked before the frame is touched)."""
    from fast_er_spark.operators.lsh import with_minhash_signature

    with pytest.raises(ValueError, match="'word' or 'char'"):
        with_minhash_signature(None, "t", mode="oph")


def test_gopher_stats_rules(spark):
    """Each Gopher rule must gate `passes` independently; base text clears
    every rule, each variant breaks exactly one."""
    from pyspark.sql import functions as F

    from fast_er_spark.functions.text import gopher_stats

    base = ("the data and pipeline have tokens with words that flow nicely " * 6).strip()
    cases = {
        0: base,                                     # all rules pass
        1: "the of and short",                       # too few words
        2: " ".join(["ab"] * 60) + " the of",        # mean word len < 3
        3: base + " " + "# " * 40,                   # symbol ratio > 0.1
        4: "\n".join(["- " + base] * 10),            # bullet lines > 0.9
        5: "\n".join([base + "..."] * 10),           # ellipsis lines > 0.3
        6: base + " " + " ".join(["123"] * 60),      # alpha ratio < 0.8
        7: base.replace("the", "xx").replace("and", "yy")
              .replace("have", "zz").replace("with", "qq")
              .replace("that", "rr").replace("of", "ss"),  # stopwords < 2
    }
    df = spark.createDataFrame(list(cases.items()), "i long, text string")
    got = {
        r["i"]: r["g"].asDict()
        for r in df.select("i", gopher_stats(F.col("text")).alias("g")).collect()
    }
    assert got[0]["passes"] == 1, got[0]
    for i in range(1, 8):
        assert got[i]["passes"] == 0, (i, got[i])
    # spot-check the discriminating stat of a few variants
    assert got[1]["n_words"] < 50
    assert got[2]["mean_word_len"] < 3.0
    assert got[3]["symbol_ratio"] > 0.1
    assert got[4]["bullet_ratio"] > 0.9
    assert got[5]["ellipsis_ratio"] > 0.3
    assert got[6]["alpha_ratio"] < 0.8
    assert got[7]["stopword_hits"] < 2


HELD_OUT_SENTENCES = {
    "en": "my neighbour brought some fresh bread this morning and we talked about the weather for a while.",
    "de": "mein nachbar hat heute morgen frisches brot gebracht und wir haben eine weile über das wetter gesprochen.",
    "fr": "mon voisin a apporté du pain frais ce matin et nous avons parlé du temps pendant un moment.",
    "es": "mi vecino trajo pan fresco esta mañana y hablamos del tiempo durante un rato.",
    "it": "il mio vicino ha portato del pane fresco questa mattina e abbiamo parlato del tempo per un po.",
    "pt": "o meu vizinho trouxe pão fresco esta manhã e conversámos sobre o tempo durante algum tempo.",
    "nl": "mijn buurman bracht vanmorgen vers brood en we hebben een tijdje over het weer gepraat.",
    "ru": "мой сосед сегодня утром принес свежий хлеб и мы немного поговорили о погоде.",
    "zh": "我的邻居今天早上带来了新鲜的面包我们聊了一会儿天气。",
    "pl": "mój sąsiad przyniósł dziś rano świeży chleb i przez chwilę rozmawialiśmy o pogodzie.",
    "sv": "min granne kom med färskt bröd i morse och vi pratade om vädret en stund.",
    "tr": "komşum bu sabah taze ekmek getirdi ve bir süre hava durumu hakkında konuştuk.",
    "ja": "となりの人がけさ焼きたてのパンを持ってきてくれてしばらく天気の話をしました。",
}

# a SECOND held-out register per language (short informal note) — the
# accuracy bar is 100% over BOTH registers x all 13 languages
HELD_OUT_SENTENCES_2 = {
    "en": "could you please send me the report before the meeting starts tomorrow afternoon, thanks a lot.",
    "de": "könntest du mir bitte den bericht schicken bevor die besprechung morgen nachmittag beginnt, vielen dank.",
    "fr": "pourrais tu m'envoyer le rapport avant que la réunion ne commence demain après midi, merci beaucoup.",
    "es": "podrías enviarme el informe antes de que empiece la reunión mañana por la tarde, muchas gracias.",
    "it": "potresti mandarmi il rapporto prima che inizi la riunione domani pomeriggio, grazie mille.",
    "pt": "você poderia me enviar o relatório antes da reunião começar amanhã à tarde, muito obrigado.",
    "nl": "zou je mij het verslag kunnen sturen voordat de vergadering morgenmiddag begint, alvast bedankt.",
    "ru": "не мог бы ты прислать мне отчет до того как завтра днем начнется собрание, большое спасибо.",
    "zh": "请在明天下午会议开始之前把报告发给我非常感谢你的帮助。",
    "pl": "czy mógłbyś przesłać mi raport zanim jutro po południu zacznie się spotkanie, bardzo dziękuję.",
    "sv": "skulle du kunna skicka rapporten till mig innan mötet börjar i morgon eftermiddag, tack så mycket.",
    "tr": "yarın öğleden sonra toplantı başlamadan önce raporu bana gönderebilir misin, çok teşekkürler.",
    "ja": "あしたの午後の会議が始まる前に報告書を送ってもらえますか、どうもありがとうございます。",
}


def test_ngram_lang_id_accuracy_python():
    """Cavnar-Trenkle profiles must classify held-out sentences (NOT in the
    seed corpora) correctly for every language, across two registers —
    26 labeled fixtures, 100% required."""
    from fast_er_spark.functions.text import NGRAM_SEED_TEXTS, ngram_lang_profiles
    from oracle.kernels import predict_lang_ngram_py

    profiles = ngram_lang_profiles()
    assert set(NGRAM_SEED_TEXTS) == set(HELD_OUT_SENTENCES) == set(HELD_OUT_SENTENCES_2)
    assert len(NGRAM_SEED_TEXTS) >= 13
    for fixture in (HELD_OUT_SENTENCES, HELD_OUT_SENTENCES_2):
        for lang, sent in fixture.items():
            got = predict_lang_ngram_py(sent, profiles)
            assert got == lang, (lang, got)
    assert predict_lang_ngram_py(None, profiles) is None
    assert predict_lang_ngram_py("   ", profiles) is None


def test_ngram_lang_id_engines_agree(spark):
    """The JVM kernel and the Arrow Python twin (oracle/kernels.py) must
    return identical predictions — including on NBSP-separated and accented
    text."""
    from pyspark.sql import functions as F

    from fast_er_spark.functions.text import lang_id_ngram
    from oracle import kernels

    texts = list(HELD_OUT_SENTENCES.values()) + list(HELD_OUT_SENTENCES_2.values()) + [
        "the cat sat on the mat and looked at the dog",
        "das wetter ist heute wirklich sehr schön geworden",
        # round-4 ADVICE: Java String.toLowerCase applies the contextual
        # final-sigma mapping (ΟΔΟΣ -> οδος with 'ς') where Python str.lower
        # gives 'σ' unconditionally; the kernel now replicates Python
        # (per-code-point simple mapping + the U+0130 -> i̇ special case)
        "ΟΔΟΣ ΠΡΟΣ ΤΗΝ ΘΑΛΑΣΣΑ the road to the sea ΕΙΝΑΙ ΩΡΑΙΑ",
        "İstanbul İZMİR the city of İzmir is large",
        "",
        "   ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    rows = df.select(
        "i",
        lang_id_ngram(F.col("t")).alias("j"),
        kernels.lang_id_ngram(F.col("t")).alias("p"),
    ).collect()
    for r in rows:
        assert r["j"] == r["p"], (texts[r["i"]], r["j"], r["p"])


def test_gopher_crlf_and_null_parity(spark):
    """Review findings: (a) the multiline regexes use UNIX_LINES so Java and
    RE2 agree on CRLF text (neither counts \r\n-terminated ellipsis lines);
    (b) null text yields a NULL struct (the oracle SQL mirrors this)."""
    from pyspark.sql import functions as F

    from fast_er_spark.functions.text import gopher_stats

    crlf = ("the data and pipeline have tokens with words that flow " * 3
            + "...\r\n") * 10
    lf = ("the data and pipeline have tokens with words that flow " * 3
          + "...\n") * 10
    df = spark.createDataFrame(
        [(0, crlf), (1, lf), (2, None)], "i long, text string"
    )
    got = {
        r["i"]: (r["g"].asDict() if r["g"] is not None else None)
        for r in df.select("i", gopher_stats(F.col("text")).alias("g")).collect()
    }
    # CRLF: \r intervenes before the anchor -> 0 ellipsis lines (consistent
    # with the RE2 oracle); LF: every line counts
    assert got[0]["ellipsis_ratio"] == 0.0, got[0]
    assert got[1]["ellipsis_ratio"] > 0.3, got[1]
    assert got[2] is None


def test_marker_spec_validation_and_dedup(spark):
    """Delimiters inside markers must raise (silent kernel-side corruption
    otherwise) and duplicated markers must not double-count in the kernel
    (its expression twin has set semantics)."""
    import pytest

    from pyspark.sql import functions as F

    from fast_er_spark.functions.text import lang_marker_counts, marker_spec
    from oracle import kernels

    for bad in ({"en": ["can't,stop"]}, {"en": ["a:b"]}, {"e|n": ["ok"]}):
        with pytest.raises(ValueError, match="delimiter"):
            marker_spec(bad)

    dup_markers = {"en": ["the", "the", "of"], "de": ["der"]}
    df = spark.createDataFrame([(0, "the cat of der"), (1, None)], "i long, t string")
    rows = df.select(
        "i",
        lang_marker_counts(F.col("t"), dup_markers).alias("j"),
        kernels.lang_marker_counts(F.col("t"), dup_markers).alias("p"),
    ).collect()
    got = {r["i"]: (r["j"], r["p"]) for r in rows}
    assert got[0][0] == got[0][1] == [2, 1], got[0]  # 'the' once per token
    assert got[1][0] is None and got[1][1] is None  # null parity both engines
