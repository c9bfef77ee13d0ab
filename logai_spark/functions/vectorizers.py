"""Vectorizers: TF-IDF (sklearn-formula parity), sequential, semantic, pad.

Parity targets (/root/reference/logai/algorithms/vectorization_algo/):
- tfidf.py:88-152 — wraps sklearn TfidfVectorizer with defaults
  token_pattern=r"(?u)\\b\\w\\w+\\b", lowercase, smooth_idf, l2 norm.
  sklearn's formula (reproduced explicitly here; sklearn itself is NOT in
  the image): idf(t) = ln((1 + n_docs) / (1 + df(t))) + 1, vec = tf * idf,
  then l2-normalize per document.
- sequential.py:33-103 — logline-string -> dense id vocab; transform splits
  a session string on a separator, maps to ids (OOV -> vocab_size), pads.
- semantic.py:48-228 — token -> id vocab with embeddings; here: token-id
  mapping + pad (embedding training is Spark-ML Word2Vec, see word2vec()).
- pad: utils/functions.py:19-33 (trim/pad to max_len with a fill value).

Everything is explode/groupBy/join/higher-order-function work; the idf map
and vocabularies are broadcast dimension tables, not Python state.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SKLEARN_TOKEN_PATTERN = r"(?u)\b\w\w+\b"


def _tokens_expr(col: Column, lowercase: bool) -> Column:
    c = F.lower(col) if lowercase else col
    # \w\w+ == tokens of >=2 word chars (sklearn default token_pattern)
    return F.filter(
        F.split(F.regexp_replace(c, r"[^\w]+", " "), " "),
        lambda t: F.length(t) >= 2,
    )


def tfidf_fit(
    df: DataFrame,
    text_col: str = "logline",
    lowercase: bool = True,
    smooth_idf: bool = True,
    min_df: int = 1,
) -> DataFrame:
    """Fit: document frequencies -> idf table [token, idf, token_idx].

    token_idx is the alphabetical vocabulary index (sklearn sorts its
    vocabulary alphabetically), so dense vectors align with the reference.
    """
    n_docs = df.count()
    toks = _tokens_expr(F.col(text_col), lowercase)
    docs = df.select(F.array_distinct(toks).alias("_toks"))
    dfreq = (
        docs.select(F.explode("_toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    s = 1 if smooth_idf else 0
    idf = dfreq.withColumn(
        "idf", F.log((F.lit(float(n_docs + s))) / (F.col("df") + s)) + 1.0
    )
    # alphabetical dense ids WITHOUT a single-task global window — a web-text
    # token vocabulary is large enough that row_number() over an
    # unpartitioned orderBy would funnel it through one task
    from logai_spark.preprocess import distributed_dense_ids

    ids = distributed_dense_ids(idf, "token", "token_idx")
    return idf.join(ids, "token")


def tfidf_transform(
    df: DataFrame,
    idf_table: DataFrame,
    text_col: str = "logline",
    id_col: str = "doc_id",
    lowercase: bool = True,
    sublinear_tf: bool = False,
    l2_norm: bool = True,
    dense: bool = False,
) -> DataFrame:
    """Transform: per-doc sparse tfidf as (indices, values) arrays, l2-normed.

    Sparse representation on purpose — the reference densifies
    (tfidf.py:144-146) which SURVEY.md §4 flags as an anti-pattern. Pass
    ``dense=True`` to also emit the dense array (small vocabs only).
    """
    toks = _tokens_expr(F.col(text_col), lowercase)
    exploded = df.select(id_col, F.explode(toks).alias("token")).groupBy(
        id_col, "token"
    ).agg(F.count(F.lit(1)).alias("tf"))
    tf = (
        F.lit(1.0) + F.log("tf") if sublinear_tf else F.col("tf").cast("double")
    )
    scored = exploded.join(F.broadcast(idf_table), "token").select(
        id_col, "token_idx", (tf * F.col("idf")).alias("w")
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("token_idx", "w"))).alias("_iw")
    )
    indices = F.transform("_iw", lambda s: s["token_idx"])
    values = F.transform("_iw", lambda s: s["w"])
    # keep docs with zero in-vocabulary tokens (empty vector), like sklearn
    all_ids = df.select(id_col).distinct()
    out = (
        all_ids.join(per_doc, id_col, "left")
        .withColumn("_iw", F.coalesce("_iw", F.array()))
        .select(F.col(id_col), indices.alias("indices"), values.alias("values"))
    )
    if l2_norm:
        norm = F.sqrt(
            F.aggregate("values", F.lit(0.0), lambda acc, v: acc + v * v)
        )
        out = out.withColumn(
            "values", F.transform("values", lambda v: v / norm)
        )
    if dense:
        size = idf_table.count()
        m = F.map_from_arrays("indices", "values")
        out = out.withColumn(
            "dense",
            F.transform(
                F.sequence(F.lit(0), F.lit(size - 1)),
                lambda i: F.coalesce(m[i], F.lit(0.0)),
            ),
        )
    return out


def pad_array(col: Column, max_len: int, value: float | int = 0) -> Column:
    """Trim/pad a 1-d array to max_len (utils/functions.py:19-33)."""
    return F.slice(
        F.concat(col, F.array_repeat(F.lit(value), max_len)), 1, max_len
    )


def sequential_vocab(df: DataFrame, line_col: str = "logline") -> DataFrame:
    """Distinct logline -> dense id (sequential.py:33-60); deterministic
    (alphabetical) instead of first-seen order. One id per DISTINCT LOGLINE
    — unbounded at web scale, so ids come from the distributed range-ranked
    assigner, not a single-task global window."""
    from logai_spark.preprocess import distributed_dense_ids

    return distributed_dense_ids(df.select(line_col), line_col, "line_id")


def _ids_by_join(
    df: DataFrame,
    vocab: DataFrame,
    split_col: str,
    elems: Column,
    key_col: str,
    id_col: str,
    max_len: int,
    oov_id: int | None = None,
) -> DataFrame:
    """Shared element-id mapping: dedup the carrier strings, posexplode their
    elements, equi-join the vocab DataFrame, reassemble ordered id arrays,
    and join the mapping back onto the fact table by the carrier string.

    This is the scale-correct shape (same pattern as tfidf_transform): the
    vocab stays a DataFrame — Spark broadcasts it when small and
    shuffle-joins when it is the 10^7-entry vocab of a web-scale corpus —
    and NOTHING is collected to the driver. OOV id = vocab row count (reference semantics: sequential.py:96-99); pass
    ``oov_id`` when the fit stage already knows it so repeated transforms
    don't each pay a count job over the vocab lineage.
    """
    oov = vocab.count() if oov_id is None else oov_id
    distinct = df.select(split_col).distinct()
    exploded = distinct.select(
        split_col, F.posexplode(elems).alias("_pos", "_elem")
    )
    mapped = exploded.join(
        vocab.select(F.col(key_col).alias("_elem"), F.col(id_col).alias("_id")),
        "_elem",
        "left",
    ).withColumn("_id", F.coalesce("_id", F.lit(oov)))
    assembled = mapped.groupBy(split_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("_pos", "_id"))), lambda s: s["_id"]
        ).alias("_ids")
    )
    assembled = assembled.withColumn(
        "token_ids", pad_array(F.col("_ids"), max_len, oov)
    ).drop("_ids")
    return df.join(assembled, split_col, "left")


def sequential_transform(
    df: DataFrame,
    vocab: DataFrame,
    session_col: str = "session_text",
    sep: str = " [SEP] ",
    max_len: int = 10,
    line_col: str = "logline",
    oov_id: int | None = None,
) -> DataFrame:
    """Split a session string on the separator, map each line to its vocab id
    (OOV -> vocab size), pad to max_len (sequential.py:82-103).

    The vocab is joined as a DataFrame (explode + equi-join + reassemble) —
    never collected: a web-scale sequential vocab has one id per distinct
    logline, far too large for a driver-side literal map.
    """
    import re as _re

    elems = F.split(F.col(session_col), _re.escape(sep))
    return _ids_by_join(
        df, vocab, session_col, elems, line_col, "line_id", max_len, oov_id
    )


def semantic_vocab(
    df: DataFrame, line_col: str = "logline", min_count: int = 1
) -> DataFrame:
    """Token -> dense id over whitespace tokens (semantic.py:83-113),
    frequency-filtered, deterministic order (count desc, token).

    Ranked via distributed_order_ids, NOT a global ``Window.orderBy`` — a
    web-scale token vocabulary (10^6-10^7 rows even after min_count) must not
    funnel through a single window task."""
    from logai_spark.preprocess import distributed_order_ids

    toks = F.split(F.trim(F.col(line_col)), r"\s+")
    counts = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return distributed_order_ids(
        counts, [F.desc("cnt"), F.asc("token")], "token_id"
    )


def semantic_transform(
    df: DataFrame,
    vocab: DataFrame,
    line_col: str = "logline",
    max_len: int = 10,
    oov_id: int | None = None,
) -> DataFrame:
    """Map tokens to ids (OOV -> vocab size), pad (semantic.py:209-228).

    Vocab join, not a collected literal map — see _ids_by_join."""
    elems = F.split(F.trim(F.col(line_col)), r"\s+")
    return _ids_by_join(
        df, vocab, line_col, elems, "token", "token_id", max_len, oov_id
    )


def word2vec_embeddings(
    df: DataFrame,
    tokens_col: str = "tokens",
    dim: int = 16,
    min_count: int = 1,
    seed: int = 42,
):
    """Spark-ML Word2Vec (JVM) replacing the reference's gensim dependency
    (word2vec.py:37-102). Returns (model, vectors DataFrame[word, vector])."""
    from pyspark.ml.feature import Word2Vec

    w2v = Word2Vec(
        vectorSize=dim,
        minCount=min_count,
        seed=seed,
        inputCol=tokens_col,
        outputCol="_w2v",
    )
    model = w2v.fit(df)
    return model, model.getVectors()


def word2vec_transform(
    df: DataFrame,
    vectors: DataFrame,
    line_col: str = "logline",
    id_col: str = "doc_id",
    max_token_len: int = 100,
    out_col: str = "log_vector",
) -> DataFrame:
    """Reference Word2Vec.transform parity (word2vec.py:73-96): per logline,
    the flattened concatenation of its tokens' word vectors — tokens
    lowercased, '*' placeholders skipped, capped at ``max_token_len`` tokens;
    tokens absent from the vocabulary are skipped (gensim would KeyError;
    skipping is this engine's documented OOV behavior).

    Spark shape: posexplode tokens -> equi-join the vector table ->
    order-preserving reassemble + flatten. The vector table stays a
    DataFrame (broadcast when small), nothing collects to the driver.
    """
    toks = F.slice(
        F.filter(F.split(F.col(line_col), " "), lambda t: (t != "") & (t != "*")),
        1,
        max_token_len,
    )
    exploded = df.select(id_col, F.posexplode(toks).alias("_pos", "_tok"))
    joined = exploded.withColumn("_tok", F.lower("_tok")).join(
        vectors.select(F.lower(F.col("word")).alias("_tok"), F.col("vector").alias("_vec")),
        "_tok",
    )
    assembled = joined.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_vec"))),
                lambda s: s["_vec"],
            )
        ).alias(out_col)
    )
    return df.join(assembled, id_col, "left")


SPECIAL_TOKENS = ("UNK", "PAD", "[SEP]")  # reference semantic.py:170-176


def semantic_embedding_matrix(
    df: DataFrame,
    line_col: str = "logline",
    dim: int = 16,
    min_count: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Semantic vectorizer's trained vocab + embedding matrix
    (reference semantic.py:114-178 trains gensim Word2Vec/FastText, appends
    UNK/PAD/[SEP] rows with zero vectors, and persists vocab + matrix).

    Spark-first: trains Spark-ML Word2Vec on whitespace-tokenized lines and
    returns one DataFrame [token, token_id, vector(array<double>)] — the
    relational form of the reference's {vocab dict + npy matrix}. token_id
    order is deterministic (count desc, token); the three special tokens take
    the last ids with zero vectors, mirroring the reference's add_vectors.
    Persist/reload with persist.save_table/load_table; downstream NN
    consumers read the matrix by token_id.
    """
    toks = F.filter(F.split(F.trim(F.col(line_col)), r"\s+"), lambda t: t != "")
    tokenized = df.select(toks.alias("_toks"))
    _, vectors = word2vec_embeddings(
        tokenized, "_toks", dim=dim, min_count=min_count, seed=seed
    )
    from pyspark.ml.functions import vector_to_array

    vocab = semantic_vocab(df, line_col, min_count)
    mat = vocab.join(
        vectors.select(F.col("word").alias("token"), vector_to_array("vector").alias("vector")),
        "token",
        "left",
    ).withColumn(
        "vector",
        F.coalesce("vector", F.array(*[F.lit(0.0)] * dim)),
    )
    n = vocab.count()
    spark = df.sparkSession
    specials = spark.createDataFrame(
        [(t, n + i, [0.0] * dim) for i, t in enumerate(SPECIAL_TOKENS)],
        ["token", "token_id", "vector"],
    ).withColumn("cnt", F.lit(0).cast("long"))
    return mat.unionByName(specials.select(mat.columns))


def fasttext_subword_vectors(
    vectors: DataFrame,
    word_col: str = "word",
    vec_col: str = "vector",
    min_n: int = 3,
    max_n: int = 5,
) -> DataFrame:
    """FastText-style subword (char n-gram) vector table, from scratch.

    The reference trains gensim FastText (fasttext.py:45-117), whose defining
    capability over Word2Vec is vectors for OUT-OF-VOCABULARY words composed
    from char-ngram buckets. The gensim training loop is out of scope (like
    the other DL components, SURVEY §2.10); this reproduces the subword
    capability on top of any trained word-vector table: each char n-gram of
    '<word>' (with boundary markers, FastText convention) gets the average
    vector of all vocabulary words containing it. ``compose_oov_vectors``
    then averages a new word's n-gram vectors — the standard
    fasttext-without-fasttext OOV imputation.

    Spark shape: explode n-grams per word + one hash aggregate per
    (ngram, position) — no Python in the loop.
    """
    marked = F.concat(F.lit("<"), F.col(word_col), F.lit(">"))
    grams_per_n = []
    for n in range(min_n, max_n + 1):
        idx = F.sequence(F.lit(1), F.greatest(F.length(marked) - (n - 1), F.lit(1)))
        grams_per_n.append(
            F.transform(idx, lambda i, n=n: marked.substr(i, F.lit(n)))
        )
    all_grams = F.array_distinct(F.flatten(F.array(*grams_per_n)))
    exploded = vectors.select(F.explode(all_grams).alias("ngram"), F.col(vec_col))
    per_pos = exploded.select(
        "ngram", F.posexplode(vec_col).alias("_pos", "_val")
    ).groupBy("ngram", "_pos").agg(F.avg("_val").alias("_avg"))
    return per_pos.groupBy("ngram").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("_pos", "_avg"))), lambda s: s["_avg"]
        ).alias("vector")
    )


def compose_oov_vectors(
    words: DataFrame,
    ngram_table: DataFrame,
    word_col: str = "word",
    min_n: int = 3,
    max_n: int = 5,
) -> DataFrame:
    """Vector for each (possibly OOV) word = mean of its char-ngram vectors
    from :func:`fasttext_subword_vectors` (ngrams with no table entry are
    skipped; a word with zero known ngrams keeps its row with a NULL
    vector — callers must never lose words silently)."""
    marked = F.concat(F.lit("<"), F.col(word_col), F.lit(">"))
    grams_per_n = []
    for n in range(min_n, max_n + 1):
        idx = F.sequence(F.lit(1), F.greatest(F.length(marked) - (n - 1), F.lit(1)))
        grams_per_n.append(F.transform(idx, lambda i, n=n: marked.substr(i, F.lit(n))))
    all_grams = F.array_distinct(F.flatten(F.array(*grams_per_n)))
    exploded = words.select(F.col(word_col), F.explode(all_grams).alias("ngram"))
    joined = exploded.join(ngram_table, "ngram")
    per_pos = joined.select(
        word_col, F.posexplode("vector").alias("_pos", "_val")
    ).groupBy(word_col, "_pos").agg(F.avg("_val").alias("_avg"))
    composed = per_pos.groupBy(word_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("_pos", "_avg"))), lambda s: s["_avg"]
        ).alias("vector")
    )
    # left join back so fully-unknown words surface as NULL rows instead of
    # vanishing through the inner ngram join
    return words.select(word_col).distinct().join(composed, word_col, "left")
