"""Distributed inverted-index build (the reference's ``Index.Add`` +
MergeSet pipeline re-expressed as a Spark job).

Reference semantics carried over (SURVEY §1-2):
- analyzer parity (``analyzer.py`` ← ``index.go:510-554``);
- posting lists docID-sorted and unique (MergeSet invariant,
  ``/root/reference/lib/neosearch/store/utils.go:39-93``) — here by
  construction: aggregation by key + sorted encode;
- per-field indexes (``<field>_<type>.idx`` → a ``field`` column).

Scale design (north_rule):
- **Single shuffle**: the raw term-occurrence stream hash-partitions
  by (field, term, span) and sorts within partitions; the block
  encoder collapses sorted duplicate runs into tf.  No separate
  groupBy shuffle, no tf intermediate, and no range-partitioner
  sampling pass (which would re-run tokenize+explode over the whole
  corpus just to pick boundaries).
- **Fixed doc-span blocks**: block key = (field, term,
  span_id = doc_id // span).  A hot term's postings scatter across
  spans, so the group that assembles each block has bounded size
  (≤ span postings) — this IS the explicit skew salting (the salt is
  the doc range), and it keeps blocks aligned so query-time block-max
  pruning can union upper bounds per span with one groupBy.
- **Salted two-phase merge** for the logical whole-term posting
  arrays (used by boolean algebra tests and the oracle gate) —
  partial sorted arrays per (term, salt), final merge per term.
- Per-posting payload: tf + doc_len varint-packed next to the
  delta+varint docIDs, so BM25 scoring needs NO join at query time.
- Doc store partitioned by doc_part doc-range directories with the
  BM25 ``dl`` as a stored column (doc_len derives from a
  column-pruned scan — no separate table/stage; corpus stats
  piggyback on the docs write via observe()); terms table +
  per-partition counters; stage manifest → checkpoint-resume.

Storage is parquet directories (Iceberg jars unavailable in this
sandbox; the write path is a single ``df.write`` so swapping in
``writeTo(...).append()`` is mechanical).  Each output file is
term-sorted internally (sortWithinPartitions), so parquet min/max
row-group stats give query-time term pushdown for free.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codec
from .analyzer import doc_len_col, norm_col, terms_col, tokens_col

K1 = 1.2
B = 0.75
# Span sizing: a block group holds ≤ span postings (≈2 bytes/posting
# varint-encoded → ≤ ~256 KiB per block) and the query-side dense
# accumulator is span × 8 B = 1 MiB — both comfortably in-memory per
# task.  Larger spans shrink the block count toward the vocabulary
# floor (rare terms stop fragmenting across spans): 8192 → 1.16 M
# blocks for 4.4 M postings at 400 k turns, 131072 → 0.51 M.  At the
# 10^12-turn target this still yields ~7.6 M spans — ample partitions
# for a 4000-core cluster and fine-grained block-max pruning.
DEFAULT_SPAN = 131072
# bump when the on-disk layout or build semantics change — part of
# the stage fingerprint so stale cached indexes never resume
INDEX_FORMAT_VERSION = 9

# The doc store (and the streamed doc_len_extra table) partition by
# doc_part = doc_id // docs_span so maintenance can overwrite ONLY
# the doc-range directories containing touched docs (the parquet
# stand-in for an Iceberg partition overwrite).  docs_span grows
# with the corpus so the directory count stays bounded:
# ceil(n_docs / docs_span) ≤ MAX_DOC_PARTS.
MAX_DOC_PARTS = 256


def doc_part_span(n_rows: int, span: int) -> int:
    """Partition width for the doc store's doc_part directories."""
    return span * max(1, -(-n_rows // (span * MAX_DOC_PARTS)))

# doc_id and dl pack into ONE shuffled int64 (doc_id << DL_BITS | dl)
# when every doc length fits DL_BITS — one less column through the
# shuffle and Arrow.  20 bits = docs up to ~1M tokens; doc_id keeps
# 43 bits = 8.8T docs ≥ the 10^12-turn target.  Corpora with longer
# docs fall back to unpacked columns (max_dl is measured in the
# stats stage — never clamped).
DL_BITS = 20

BLOCK_SCHEMA = (
    "field string, term string, span_id long, first_doc long, n_docs int, "
    "docs_enc binary, tfs_enc binary, dls_enc binary, max_tf double, "
    "max_tf_norm double, enc_avgdl double, part_id int"
)


def primary_dl_col(docs: DataFrame, field: str):
    """BM25 document-length expression for the primary analyzed
    field.  An ``array<string>`` primary (possible under schema
    inference when the corpus has no scalar string column) measures
    the space-joined elements — the same token count the element
    analyzer produces for non-empty elements."""
    if _is_array_field(docs, field):
        return doc_len_col(F.concat_ws(" ", F.col(field)))
    return doc_len_col(F.col(field))


def _with_dl(docs: DataFrame, analyzed_fields: list[str]) -> DataFrame:
    """Attach the BM25 document length.  The persisted doc store
    carries ``dl`` as a stored column (computed once, during the docs
    stage write) — reuse it; otherwise (raw input, streaming batches)
    compute it from the primary analyzed field."""
    if "dl" in docs.columns:
        return docs
    return docs.withColumn("dl", primary_dl_col(docs, analyzed_fields[0]))


def _occurrence_stream(
    docs: DataFrame,
    analyzed_fields: list[str],
    exact_fields: list[str],
    include_whole: bool = True,
    field_codes: dict[str, int] | None = None,
) -> DataFrame:
    """(field, term, doc_id, dl) — one row per term OCCURRENCE.

    With ``field_codes``, emits a byte ``fid`` code instead of the
    ``field`` string (shuffle-row shrink — the string is restored
    from the code post-shuffle in the encoder).

    Analyzed fields explode their term arrays; exact fields index the
    raw value as a single term (the reference's single-token path,
    ``index.go:510-544``).  The BM25 document length (over the primary
    analyzed field) rides along from the start — it's constant per
    doc, so carrying it costs nothing and saves a large shuffle join
    later.  tf is NOT aggregated here: the block encoder collapses
    sorted duplicate runs, which turns the build into a single
    shuffle (see IndexBuilder.build).

    include_whole=False drops the whole-string extra term
    (``index.go:546-553``) from analyzed fields — the build routes
    those through a shuffle-free side path (``_whole_string_stream``)
    because they are long (~100 B vs ~8 B tokens — half the shuffle
    bytes) and almost always df=1."""
    with_dl = _with_dl(docs, analyzed_fields)

    def fcol(f: str) -> F.Column:
        if field_codes is None:
            return F.lit(f).alias("field")
        return F.lit(field_codes[f]).cast("tinyint").alias("fid")

    parts = []
    for f in analyzed_fields:
        if _is_array_field(docs, f):
            # array-of-string: every element analyzed into the SAME
            # field databases (reference ``index.go:483-508``)
            elem = with_dl.withColumn("_v", F.explode(F.col(f)))
            src = terms_col(F.col("_v")) if include_whole else tokens_col(F.col("_v"))
        else:
            elem = with_dl
            src = terms_col(F.col(f)) if include_whole else tokens_col(F.col(f))
        parts.append(
            elem.select(
                fcol(f),
                F.explode(src).alias("term"),
                F.col("doc_id"),
                F.col("dl"),
            )
        )
    for f in exact_fields:
        if _is_array_field(docs, f):
            part = with_dl.select(
                fcol(f),
                F.explode(F.col(f)).alias("term"),
                F.col("doc_id"),
                F.col("dl"),
            ).where(F.col("term").isNotNull() & (F.col("term") != ""))
        else:
            part = with_dl.where(F.col(f).isNotNull() & (F.col(f) != "")).select(
                fcol(f),
                F.col(f).alias("term"),
                F.col("doc_id"),
                F.col("dl"),
            )
        parts.append(part)
    allt = parts[0]
    for p in parts[1:]:
        allt = allt.unionByName(p)
    return allt


def apply_date_fields(docs: DataFrame, date_fields: dict | None) -> DataFrame:
    """Per-field date-format metadata (reference ``index.go:556-574``:
    a string field with a ``format`` metadata entry parses with that
    layout — default layout when None — and is indexed as the
    integer epoch, NOT the raw string; golden
    ``index_metadata_test.go:56-75``).  Spark analog: parse with
    ``to_timestamp(col, fmt)`` (Spark datetime patterns instead of Go
    layout strings — the public equivalent) and index the term as the
    epoch-MICROS string (the reference stores UnixNano int64 — micros
    is Spark's native timestamp integer; same key-order property).
    Applies only to the INDEXED value — the stored document keeps the
    raw string, exactly like the reference's document.db.  Top-level
    string columns only."""
    for f, fmt in (date_fields or {}).items():
        ts = F.to_timestamp(F.col(f), fmt) if fmt else F.to_timestamp(F.col(f))
        docs = docs.withColumn(f, F.unix_micros(ts).cast("string"))
    return docs


def check_doc_id_bounds(docs: DataFrame, docs_span: int) -> tuple[int, int]:
    """Doc-id bounds guard shared by build, upsert, and the streaming
    delta sink (ADVICE r3): a negative or sparse-hash doc_id would
    otherwise silently overflow the packed int64 sort key and the int
    doc_part/span partition keys into corrupted postings.  One
    column-pruned agg; returns (min, max)."""
    idr = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    return validate_doc_id_bounds(idr["lo"], idr["hi"], docs_span)


def validate_doc_id_bounds(
    lo: int | None, hi: int | None, docs_span: int
) -> tuple[int, int]:
    """The validation half of ``check_doc_id_bounds`` for callers
    that already have the min/max (e.g. from an ``Observation``
    piggybacked on a write they were doing anyway)."""
    min_doc_id = int(lo) if lo is not None else 0
    max_doc_id = int(hi) if hi is not None else 0
    if min_doc_id < 0:
        raise ValueError(
            f"negative doc_id {min_doc_id}: doc_ids must be "
            "non-negative (use assign_doc_ids)"
        )
    if max_doc_id // docs_span > (1 << 31) - 1:
        raise ValueError(
            f"doc_id {max_doc_id} overflows the int doc_part key "
            f"at docs_span={docs_span}: ids must be dense-ish "
            "(use assign_doc_ids), not sparse hashes"
        )
    return min_doc_id, max_doc_id


def apply_typed_fields(docs: DataFrame, typed_fields: dict | None) -> DataFrame:
    """Inferred non-string exact columns cast to their canonical term
    strings for INDEXING (the doc store keeps the original typed
    column, like ``apply_date_fields``).  The reference dispatches on
    the JSON value's runtime type — numbers to ``<field>_float.idx``,
    bools to ``<field>_bool.idx``, dates to epoch int64
    (``lib/neosearch/index/index.go:419-480,556-574``); the Spark
    analog derives the same mapping from the DataFrame schema once:

    - ``numeric``/``bool`` → ``CAST(col AS STRING)`` terms
    - ``timestamp``/``date`` → epoch-micros string terms (same
      key-order property as the reference's UnixNano int64)

    Top-level columns only (struct subfields would collide with
    Spark's dotted-path resolution under ``withColumn``)."""
    for f, kind in (typed_fields or {}).items():
        c = F.col(f)
        if kind in ("timestamp", "date"):
            docs = docs.withColumn(f, F.unix_micros(c.cast("timestamp")).cast("string"))
        else:
            docs = docs.withColumn(f, c.cast("string"))
    return docs


def infer_fields(schema, doc_id_col: str = "doc_id") -> dict:
    """Schemaless-style field inference from a DataFrame schema —
    the declared-fields analog of the reference's reflection-driven
    per-field dispatch (``lib/neosearch/index/index.go:355-480``),
    which indexes ANY JSON document without a field list.

    Returns ``{"analyzed_fields", "exact_fields", "date_fields",
    "typed_fields"}`` ready to splat into :class:`IndexBuilder`:

    - top-level / struct-nested (dotted-path) string → analyzed
      (the reference's ``_string.idx`` tokenized path)
    - ``array<string>`` → analyzed with element indexing
      (``index.go:483-508``)
    - top-level numeric / bool → exact, cast-to-string terms
      (``_float.idx``/``_int.idx``/``_bool.idx`` analog)
    - top-level timestamp / date → exact, epoch-micros terms
      (``index.go:556-574``)
    - ``doc_id_col``, binary, map, and nested non-string leaves are
      not indexed (doc store still keeps them)

    The primary analyzed field (BM25 document length source) is
    ``text`` when present, else the first string column."""
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DateType,
        NumericType,
        StringType,
        StructType,
        TimestampType,
    )

    analyzed: list[str] = []
    exact: list[str] = []
    typed: dict[str, str] = {}

    def walk(fields, prefix: str, top: bool) -> None:
        for fld in fields:
            name = f"{prefix}{fld.name}"
            dt = fld.dataType
            if top and name == doc_id_col:
                continue
            if isinstance(dt, StringType):
                analyzed.append(name)
            elif isinstance(dt, ArrayType) and isinstance(dt.elementType, StringType):
                analyzed.append(name)
            elif isinstance(dt, StructType):
                walk(dt.fields, f"{name}.", top=False)
            elif top and isinstance(dt, BooleanType):
                exact.append(name)
                typed[name] = "bool"
            elif top and isinstance(dt, NumericType):
                exact.append(name)
                typed[name] = "numeric"
            elif top and isinstance(dt, (TimestampType, DateType)):
                exact.append(name)
                typed[name] = "timestamp"
            # binary / map / non-string arrays / nested non-strings:
            # stored, not indexed

    walk(schema.fields, "", top=True)
    if not analyzed:
        raise ValueError(
            "infer_fields found no string column to analyze "
            f"(schema: {[f.name for f in schema.fields]})"
        )
    # primary slot (BM25 doc-length source): 'text' first, then
    # scalar strings before array<string> fields (an array primary
    # is supported but a scalar one is the natural doc length)
    arrays = {
        f for f in analyzed
        if "." not in f
        and isinstance(
            schema[f].dataType, ArrayType
        )
    }
    analyzed.sort(key=lambda f: (f != "text", f in arrays, f))
    return {
        "analyzed_fields": analyzed,
        "exact_fields": exact,
        "date_fields": {},
        "typed_fields": typed,
    }


def _is_array_field(docs: DataFrame, f: str) -> bool:
    """True when the (possibly dotted struct-path) field resolves to
    array<string> — reference element-wise array indexing
    (``index.go:483-508``).  Dotted paths (``address.city``) need no
    special handling: ``F.col`` resolves struct paths natively
    (SURVEY §1.4), and the dotted path itself becomes the index field
    name (the reference's '.'-joined slug, ``index.go:337-339``)."""
    from pyspark.sql.types import ArrayType

    return isinstance(docs.select(F.col(f)).schema[0].dataType, ArrayType)


def _whole_string_stream(docs: DataFrame, analyzed_fields: list[str]) -> DataFrame:
    """(field, term, doc_id, dl) rows for the whole-string extra term
    of multi-token values (reference ``index.go:546-553``); array
    fields contribute one whole-string term per multi-token element."""
    with_dl = _with_dl(docs, analyzed_fields)
    parts = []
    for f in analyzed_fields:
        if _is_array_field(docs, f):
            # normalize + per-row dedupe BEFORE exploding: duplicate
            # elements (or case variants) must yield ONE whole-string
            # term per doc, or the shuffle-free singleton-block path
            # would emit the same (field, term, doc) twice
            src = with_dl.withColumn(
                "_v",
                F.explode(F.array_distinct(F.transform(F.col(f), norm_col))),
            )
            val = F.col("_v")
        else:
            src = with_dl
            val = F.col(f)
        parts.append(
            src.where(F.size(tokens_col(val)) > 1).select(
                F.lit(f).alias("field"),
                norm_col(val).alias("term"),
                F.col("doc_id"),
                F.col("dl"),
            )
        )
    allt = parts[0]
    for p in parts[1:]:
        allt = allt.unionByName(p)
    return allt


def _tf_stream(docs: DataFrame, analyzed_fields: list[str], exact_fields: list[str]) -> DataFrame:
    """(field, term, doc_id, tf, dl) — aggregated term frequencies
    (used by the streaming delta and upsert paths, where new postings
    must merge with base postings by key).

    Whole-string extra terms come from ``_whole_string_stream`` with
    tf=1 — NOT from counting occurrences — mirroring the batch
    build's singleton side path exactly (which per-row-dedupes array
    elements and hardcodes tf=1): an upserted/streamed doc must
    produce byte-identical postings to a fresh rebuild."""
    tokens = (
        _occurrence_stream(docs, analyzed_fields, exact_fields, include_whole=False)
        .groupBy("field", "term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    whole = _whole_string_stream(docs, analyzed_fields).withColumn(
        "tf", F.lit(1).cast("long")
    )
    return tokens.unionByName(whole.select("field", "term", "doc_id", "dl", "tf"))


def index_fields(params: dict) -> list[str]:
    """Indexed fields in byte ``fid`` code order: analyzed, then
    exact, then date/typed fields not already exact.  Reads the
    manifest ``params`` keys, so the build and every maintenance
    rewrite code fields identically."""
    exact = list(params["exact_fields"])
    fields = list(params["analyzed_fields"]) + exact + [
        f
        for f in list(params.get("date_fields") or {})
        + list(params.get("typed_fields") or {})
        if f not in exact
    ]
    if len(fields) > 127:
        # fid is a tinyint: code 128 would wrap negative and numpy
        # fancy-indexing would silently attribute postings to the
        # wrong field
        raise ValueError(
            f"{len(fields)} indexed fields exceeds the 127-field "
            "limit of the byte field-code shuffle"
        )
    return fields


def field_code_col(field: F.Column, fields: list[str]) -> F.Column:
    """Byte ``fid`` code (position in ``fields``) of a field-name
    column.  A name missing from ``fields`` raises instead of mapping
    to a sentinel: a negative code would index the last field in the
    encoder and silently file the postings under it."""
    code = F.when(field == F.lit(fields[0]), F.lit(0))
    for i, f in enumerate(fields[1:], 1):
        code = code.when(field == F.lit(f), F.lit(i))
    missing = F.raise_error(
        F.concat(F.lit("field not in the index field list: "), field)
    )
    return code.otherwise(missing).cast("tinyint").alias("fid")


def _arrow_binary(offsets: np.ndarray, data: np.ndarray):
    """Zero-copy pyarrow BinaryArray from an int32 offsets array and
    a uint8 data buffer — no per-value Python bytes objects."""
    import pyarrow as pa

    return pa.Array.from_buffers(
        pa.binary(),
        len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def _single_chunk(tbl, name: str):
    c = tbl.column(name)
    if c.num_chunks == 1:
        return c.chunk(0)
    return c.combine_chunks()


def arrow_carry_encoder(
    avgdl: float, span: int, fields: list[str], dl_bits: int | None = None
):
    """mapInArrow block encoder — the one writer of occurrence and
    posting blocks (build and every maintenance rewrite).

    Never materializes per-row Python objects: group detection is
    vectorized Arrow string equality + numpy int compares, varint
    encoding runs once per batch (numpy), and the binary posting
    columns are assembled directly from offset+data buffers.

    Input batches: (fid int8, term string, packed int64) sorted by
    (fid, term, packed) within the partition, where
    ``packed = doc_id << dl_bits | dl`` (monotonic in doc_id, so the
    sort order is the doc order); with dl_bits=None, unpacked
    (..., doc_id, dl, ...) columns instead.  ``fid`` indexes
    ``fields``.  Occurrence rows (the build) carry no tf: each
    posting's tf is its duplicate-run length.  Pre-aggregated rows
    (maintenance) carry a ``tf`` column, summed over the run.  The
    lineage ``part_id`` is read from ``TaskContext`` (mapInArrow runs
    in the same stage as the post-shuffle sort, so the task partition
    id IS ``spark_partition_id()`` of the arranged stream) — one less
    column over the JVM↔Python boundary."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fields_list = list(fields)

    def doc_dl(tbl):
        if dl_bits is not None:
            packed = (
                _single_chunk(tbl, "packed")
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            return packed >> dl_bits, packed & ((1 << dl_bits) - 1)
        return (
            _single_chunk(tbl, "doc_id").to_numpy(zero_copy_only=False).astype(np.int64),
            _single_chunk(tbl, "dl").to_numpy(zero_copy_only=False).astype(np.int64),
        )

    def encode_tbl(tbl, fields_arr, span_, avgdl_, pid):
        n = tbl.num_rows
        fid = _single_chunk(tbl, "fid").to_numpy(zero_copy_only=False).astype(np.int64)
        doc, dl = doc_dl(tbl)
        terms = _single_chunk(tbl, "term")
        if isinstance(terms, pa.ChunkedArray):
            terms = terms.combine_chunks()
        spn = doc // span_

        gchange = np.ones(n, dtype=bool)
        if n > 1:
            teq = pc.equal(terms.slice(1), terms.slice(0, n - 1)).to_numpy(
                zero_copy_only=False
            )
            gchange[1:] = (
                (fid[1:] != fid[:-1]) | ~teq | (spn[1:] != spn[:-1])
            )
        pchange = gchange.copy()
        pchange[1:] |= doc[1:] != doc[:-1]

        ps = np.nonzero(pchange)[0]
        if "tf" in tbl.column_names:
            tf_rows = _single_chunk(tbl, "tf").to_numpy(zero_copy_only=False)
            tf = np.add.reduceat(tf_rows.astype(np.int64), ps)
        else:
            tf = np.diff(np.append(ps, n)).astype(np.int64)  # run lengths
        doc_p = doc[ps]
        dl_p = dl[ps]
        gs = np.nonzero(gchange)[0]
        gs_p = np.searchsorted(ps, gs)  # group starts in posting space
        ge_p = np.append(gs_p[1:], len(ps))

        deltas = np.empty(len(doc_p), dtype=np.uint64)
        if len(doc_p):
            deltas[0] = doc_p[0]
            np.subtract(
                doc_p[1:], doc_p[:-1], out=deltas[1:], casting="unsafe"
            )
            deltas[gs_p] = doc_p[gs_p]

        docs_buf, docs_len = codec.varint_encode_with_lengths(deltas)
        tfs_buf, tfs_len = codec.varint_encode_with_lengths(tf.astype(np.uint64))
        dls_buf, dls_len = codec.varint_encode_with_lengths(dl_p.astype(np.uint64))

        def offsets(lengths: np.ndarray) -> np.ndarray:
            boff = np.concatenate(([0], np.cumsum(lengths)))
            return boff[np.append(gs_p, len(ps))]

        tf_norm = (tf * (K1 + 1.0)) / (
            tf + K1 * (1.0 - B + B * dl_p / avgdl_)
        )

        g = len(gs)
        arrays = [
            pc.take(fields_arr, pa.array(fid[gs], type=pa.int64())),
            pc.take(terms, pa.array(gs, type=pa.int64())),
            pa.array(spn[gs], type=pa.int64()),
            pa.array(doc_p[gs_p], type=pa.int64()),
            pa.array((ge_p - gs_p).astype(np.int32), type=pa.int32()),
            _arrow_binary(offsets(docs_len), docs_buf),
            _arrow_binary(offsets(tfs_len), tfs_buf),
            _arrow_binary(offsets(dls_len), dls_buf),
            pa.array(
                np.maximum.reduceat(tf, gs_p).astype(np.float64)
                if len(gs_p)
                else np.empty(0, np.float64),
                type=pa.float64(),
            ),
            pa.array(
                np.maximum.reduceat(tf_norm, gs_p)
                if len(gs_p)
                else np.empty(0, np.float64),
                type=pa.float64(),
            ),
            pa.array(np.full(g, avgdl_, dtype=np.float64), type=pa.float64()),
            pa.array(np.full(g, pid, dtype=np.int32), type=pa.int32()),
        ]
        names = [
            "field", "term", "span_id", "first_doc", "n_docs",
            "docs_enc", "tfs_enc", "dls_enc", "max_tf", "max_tf_norm",
            "enc_avgdl", "part_id",
        ]
        return pa.RecordBatch.from_arrays(arrays, names=names)

    def encode(it):
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        fields_arr = pa.array(fields_list, type=pa.string())
        carry = None
        for batch in it:
            tbl = pa.Table.from_batches([batch])
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl])
                carry = None
            tbl = tbl.combine_chunks()
            n = tbl.num_rows
            if n == 0:
                continue
            # trailing group (may straddle the next batch): rows equal
            # to the last row on (fid, term, span)
            fid = _single_chunk(tbl, "fid").to_numpy(zero_copy_only=False)
            doc, _ = doc_dl(tbl)
            terms = _single_chunk(tbl, "term")
            spn = doc // span
            last_term = terms.slice(n - 1, 1)
            tail_eq = (
                (fid == fid[-1])
                & (spn == spn[-1])
                & pc.equal(terms, last_term[0]).to_numpy(zero_copy_only=False)
            )
            # length of the trailing all-True run
            tail_len = int(
                np.argmax(~tail_eq[::-1]) if not tail_eq.all() else n
            )
            tail_start = n - tail_len
            if tail_start == 0:
                carry = tbl  # whole batch is one group; keep carrying
                continue
            carry = tbl.slice(tail_start)
            yield encode_tbl(
                tbl.slice(0, tail_start), fields_arr, span, avgdl, pid
            )
        if carry is not None and carry.num_rows:
            yield encode_tbl(carry, fields_arr, span, avgdl, pid)

    return encode


def arrow_singleton_encoder(avgdl: float, span: int):
    """Arrow-native whole-string singleton-block encoder (whole-string
    terms): one block per input row, zero per-row Python objects.
    Lineage ``part_id`` comes from ``TaskContext`` (same stage as the
    input scan), not an input column."""
    import pyarrow as pa

    def encode(it):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            tbl = pa.Table.from_batches([batch]).combine_chunks()
            doc = _single_chunk(tbl, "doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
            dl = _single_chunk(tbl, "dl").to_numpy(zero_copy_only=False).astype(np.int64)
            docs_buf, docs_len = codec.varint_encode_with_lengths(doc.astype(np.uint64))
            dls_buf, dls_len = codec.varint_encode_with_lengths(dl.astype(np.uint64))
            tf_norm = (K1 + 1.0) / (1.0 + K1 * (1.0 - B + B * dl / avgdl))
            ones_off = np.arange(n + 1, dtype=np.int32)
            arrays = [
                _single_chunk(tbl, "field"),
                _single_chunk(tbl, "term"),
                pa.array(doc // span, type=pa.int64()),
                pa.array(doc, type=pa.int64()),
                pa.array(np.ones(n, dtype=np.int32), type=pa.int32()),
                _arrow_binary(np.concatenate(([0], np.cumsum(docs_len))), docs_buf),
                _arrow_binary(ones_off, np.ones(n, dtype=np.uint8)),
                _arrow_binary(np.concatenate(([0], np.cumsum(dls_len))), dls_buf),
                pa.array(np.ones(n, dtype=np.float64), type=pa.float64()),
                pa.array(tf_norm, type=pa.float64()),
                pa.array(np.full(n, avgdl, dtype=np.float64), type=pa.float64()),
                pa.array(np.full(n, pid, dtype=np.int32), type=pa.int32()),
            ]
            names = [
                "field", "term", "span_id", "first_doc", "n_docs",
                "docs_enc", "tfs_enc", "dls_enc", "max_tf", "max_tf_norm",
                "enc_avgdl", "part_id",
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return encode


def term_bucket_expr(col: F.Column, boundaries: list[str]) -> F.Column:
    """bucket(term) = #{b in boundaries : b <= term} as a BALANCED
    comparison tree (depth log2(#boundaries), whole-stage codegen'd —
    no per-row Python, no UDF).  Spark compares strings in UTF-8 byte
    order, which equals code-point order, which equals Python ``str``
    order — so ``bisect.bisect_right(boundaries, term)`` computes the
    identical bucket driver-side (query pruning)."""

    def tree(lo: int, hi: int) -> F.Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(col < F.lit(boundaries[mid]), tree(lo, mid)).otherwise(
            tree(mid + 1, hi)
        )

    return tree(0, len(boundaries)).alias("bucket")


def sample_term_boundaries(
    docs: DataFrame,
    analyzed_fields: list[str],
    exact_fields: list[str],
    n_rows: int,
    n_buckets: int,
    sample_rows: int = 100_000,
) -> list[str]:
    """Occurrence-weighted term quantiles from a small doc sample —
    the range boundaries for the bucketed block layout.  One cheap
    job over ≤sample_rows docs replaces repartitionByRange's sampling
    pass over the full (expensive, encoder-bearing) lineage.  An
    imperfect sample only skews bucket SIZES, never correctness:
    bucket membership is a pure function of (boundaries, term), and
    both the build and every query compute it from the same manifest-
    persisted list."""
    if n_buckets <= 1:
        return []
    frac = min(1.0, sample_rows / max(n_rows, 1))
    sample = docs.sample(fraction=frac, seed=42) if frac < 1.0 else docs
    occ = _occurrence_stream(
        sample, analyzed_fields, exact_fields, include_whole=True
    )
    # second-level sample keeps the driver collect ~30k strings.
    # The occurrence count is MEASURED (one cheap count over the doc
    # sample), not guessed from an assumed tokens/doc — long-document
    # corpora would otherwise collect len/20× more strings than
    # intended (unbounded driver pull)
    n_occ = occ.count()
    terms = [
        r["term"]
        for r in occ.select("term").sample(
            fraction=min(1.0, 30_000 / max(n_occ, 1)), seed=7
        ).collect()
    ]
    if len(terms) < n_buckets:
        # tiny-corpus fallback (sample produced fewer terms than
        # buckets): bounded — distinct + limit, never an unbounded
        # pull of every occurrence of the doc sample
        terms = [
            r["term"]
            for r in occ.select("term").distinct().limit(64 * n_buckets).collect()
        ]
    terms.sort()
    if not terms:
        return []
    step = len(terms) / n_buckets
    bounds = sorted({terms[int(i * step)] for i in range(1, n_buckets)})
    return bounds


class IndexBuilder:
    """Builds the persisted index at ``index_dir`` with
    checkpoint-resume (stage manifests + per-partition counters —
    north_rule)."""

    STAGES = ["docs", "stats", "blocks", "terms", "counters"]

    def __init__(
        self,
        index_dir: str,
        analyzed_fields: list[str] | None = None,
        exact_fields: list[str] | None = None,
        span: int = DEFAULT_SPAN,
        n_buckets: int = 32,
        date_fields: dict[str, str | None] | None = None,
        typed_fields: dict[str, str] | None = None,
        infer: bool = False,
    ):
        self.index_dir = index_dir
        self.analyzed_fields = analyzed_fields or ["text"]
        self.exact_fields = exact_fields or []
        # {field: spark datetime pattern or None} — parsed to epoch-
        # micros terms at index time (apply_date_fields); the field
        # is indexed like an exact field, the doc store keeps the raw
        # string (reference index.go:556-574 semantics)
        self.date_fields = dict(date_fields or {})
        # {field: numeric|bool|timestamp} — inferred non-string exact
        # columns, cast to canonical term strings at index time
        # (apply_typed_fields); normally populated by infer=True
        self.typed_fields = dict(typed_fields or {})
        # infer=True: resolve ALL field lists from the input
        # DataFrame's schema at build() time (the reference's
        # schemaless reflection dispatch, index.go:355-480) —
        # explicit field arguments are ignored
        self.infer = infer
        self.span = span
        # bucketed block layout: n_buckets term-range directories.
        # Pruning factor for point lookups is ~n_buckets; file count
        # per build is O(tasks × n_buckets) — at cluster scale raise
        # buckets with the cluster, not with the data (lookup cost is
        # per-bucket, independent of corpus size).
        self.n_buckets = n_buckets

    # --- manifest -------------------------------------------------
    @property
    def manifest_path(self) -> str:
        return os.path.join(self.index_dir, "manifest.json")

    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"stages": {}, "params": {}}

    def _save_manifest(self, m: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2, default=str)
        os.replace(tmp, self.manifest_path)

    def _stage_done(self, m: dict, stage: str, fingerprint: str) -> bool:
        ent = m["stages"].get(stage)
        return bool(ent and ent.get("fingerprint") == fingerprint and ent.get("ok"))

    def _mark_stage(self, m: dict, stage: str, fingerprint: str, **extra) -> None:
        now = time.time()
        m["stages"][stage] = {
            "fingerprint": fingerprint,
            "ok": True,
            "finished_at": now,
            "duration_sec": round(now - self._stage_t0, 3),
            **extra,
        }
        self._stage_t0 = now
        self._save_manifest(m)

    def path(self, name: str) -> str:
        return os.path.join(self.index_dir, name)

    # --- build ----------------------------------------------------
    def build(
        self,
        docs: DataFrame,
        resume: bool = False,
        stop_after: str | None = None,
    ) -> None:
        """Build all stages.  ``resume=True`` skips stages whose
        manifest entry matches the input fingerprint (kill-after-
        stage-N → rerun → identical index).  ``stop_after`` simulates
        a mid-build crash for the resume tests."""
        spark = docs.sparkSession
        if self.infer:
            inferred = infer_fields(docs.schema)
            self.analyzed_fields = inferred["analyzed_fields"]
            self.exact_fields = inferred["exact_fields"]
            self.date_fields = inferred["date_fields"]
            self.typed_fields = inferred["typed_fields"]
        os.makedirs(self.index_dir, exist_ok=True)
        if not resume:
            for st in self.STAGES:
                p = self.path(st)
                if os.path.exists(p):
                    shutil.rmtree(p)
            if os.path.exists(self.manifest_path):
                os.remove(self.manifest_path)
        m = self._load_manifest()
        self._stage_t0 = time.time()
        prior_params = m.get("params", {})
        m["params"] = {
            "analyzed_fields": self.analyzed_fields,
            "exact_fields": self.exact_fields,
            "date_fields": self.date_fields,
            "typed_fields": self.typed_fields,
            "span": self.span,
            "k1": K1,
            "b": B,
        }
        # boundaries are (re)computed in the blocks stage; on resume
        # with that stage skipped, the persisted list must survive
        if "bucket_boundaries" in prior_params:
            m["params"]["bucket_boundaries"] = prior_params["bucket_boundaries"]
        if "docs_span" in prior_params:
            m["params"]["docs_span"] = prior_params["docs_span"]

        # resume trusts the persisted doc store for the row count
        # (metadata-only parquet count) instead of re-scanning the
        # input — the resume contract is "same input as the original
        # run" (standard checkpoint semantics)
        prior = m["stages"].get("docs", {})
        id_bounds: tuple[int, int] | None = None
        if resume and prior.get("ok") and os.path.exists(self.path("docs")):
            n_rows = spark.read.parquet(self.path("docs")).count()
        else:
            # assign_doc_ids already counted every partition for its
            # offsets — trust its carried total and skip a whole
            # count() pass over the corpus (its ids are dense 0..N-1
            # by construction, so the id bounds come free too)
            n_rows = getattr(docs, "_nsq_n_rows", None)
            if n_rows is None:
                # caller-supplied doc_ids (the reference's uint64 key
                # model) may be SPARSE: fold the id bounds into the
                # same single column-pruned agg that was counting
                # anyway — doc_part sizing below needs the RANGE, not
                # the count (10k docs with 14-digit ids would
                # otherwise explode into one directory per doc)
                row = docs.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("doc_id").alias("lo"),
                    F.max("doc_id").alias("hi"),
                ).collect()[0]
                n_rows = int(row["n"])
                id_bounds = (
                    int(row["lo"]) if row["lo"] is not None else 0,
                    int(row["hi"]) if row["hi"] is not None else 0,
                )
            else:
                id_bounds = (0, max(int(n_rows) - 1, 0))
        fp = (
            f"v{INDEX_FORMAT_VERSION};n={n_rows};"
            f"fields={self.analyzed_fields}+{self.exact_fields}"
            f"+{sorted(self.date_fields.items())};span={self.span}"
        )
        if self.typed_fields:
            fp += f";typed={sorted(self.typed_fields.items())}"

        def stop(stage: str) -> bool:
            return stop_after is not None and stage == stop_after

        # stage: docs (document store — the reference's document.db).
        # Layout: partitioned by doc_part = doc_id div docs_span
        # directories (so maintenance overwrites only touched
        # doc-range dirs — the Iceberg-partition-overwrite stand-in),
        # doc_id-sorted within each file (row groups carry tight
        # min/max stats, so range scans / point lookups prune — the
        # Spark analog of the reference's big-endian key order,
        # ``engine_test.go:71-174``).  The BM25 document length is
        # computed HERE, once, and stored as a ``dl`` column: the
        # blocks stage and every doc_len reader reuse it via a
        # column-pruned scan instead of re-tokenizing (this is what
        # let the separate doc_len stage be dropped).  Corpus stats
        # piggyback on the same write via observe() — no extra job.
        # No shuffle: docID assignment already lays partitions out in
        # doc_id order, so files cover near-disjoint ranges and each
        # task writes to ~1-2 doc_part dirs.  (A repartitionByRange
        # here was measured a net loss.)
        from pyspark.sql import Observation

        # 4x overpartition of the occurrence shuffle: smaller per-task
        # sorts + pipelined Arrow encode behind the shuffle (measured
        # ~2x on the encode step vs 1x parallelism at 33M rows)
        nparts = max(4, 4 * spark.sparkContext.defaultParallelism)
        # doc_part width sizes from the ID RANGE (dense ids: range ==
        # count; sparse caller-supplied ids: range >> count, and a
        # count-based width would write one near-empty directory per
        # doc — measured 100 s for the reference's own 10k-doc
        # corpus with 14-digit ids before this fix)
        docs_span = int(
            m["params"].get("docs_span")
            or doc_part_span(
                (id_bounds[1] + 1) if id_bounds is not None else n_rows,
                self.span,
            )
        )
        m["params"]["docs_span"] = docs_span
        if id_bounds is not None:
            # fail BEFORE the partitioned write a bad id would corrupt
            validate_doc_id_bounds(id_bounds[0], id_bounds[1], docs_span)
        obs_stats: dict | None = None
        if not self._stage_done(m, "docs", fp):
            obs = Observation()
            (
                docs.withColumn(
                    "dl", primary_dl_col(docs, self.analyzed_fields[0])
                )
                .withColumn(
                    "doc_part", F.expr(f"doc_id div {docs_span}").cast("int")
                )
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n_docs"),
                    F.avg("dl").alias("avgdl"),
                    F.sum("dl").alias("total_tokens"),
                    F.max("dl").alias("max_dl"),
                )
                # sorted by the partition column first: the file
                # writer's required ordering (doc_part) is already
                # satisfied, so no extra sort is inserted and the
                # doc_id order inside each file survives
                .sortWithinPartitions("doc_part", "doc_id")
                .write.mode("overwrite")
                .partitionBy("doc_part")
                .parquet(self.path("docs"))
            )
            obs_stats = obs.get
            self._mark_stage(m, "docs", fp, rows=n_rows)
        if stop("docs"):
            return
        # the doc store's schema is corpus-dependent: derive it from
        # the input (input columns + stored dl + doc_part partition
        # key), read the table with it explicitly, and persist it so
        # maintenance/query can do the same even after a delete — or
        # an empty input — leaves every doc_part directory file-less
        # (schema inference fails on a file-less table)
        from pyspark.sql.types import IntegerType, StructField, StructType

        docs_schema = StructType(
            [f for f in docs.schema.fields if f.name not in ("dl", "doc_part")]
            + [
                StructField("dl", IntegerType()),
                StructField("doc_part", IntegerType()),
            ]
        )
        docs_t = spark.read.schema(docs_schema).parquet(self.path("docs"))
        if m["params"].get("docs_schema") != docs_schema.json():
            m["params"]["docs_schema"] = docs_schema.json()
            self._save_manifest(m)

        # stage: stats — free on the build path (the docs write
        # observed them); a resume that skipped the docs stage
        # recomputes with one column-pruned scan of the stored dl
        if not self._stage_done(m, "stats", fp):
            if obs_stats is None:
                obs_stats = docs_t.agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.avg("dl").alias("avgdl"),
                    F.sum("dl").alias("total_tokens"),
                    F.max("dl").alias("max_dl"),
                ).collect()[0].asDict()
            # aggregates observe NULL over zero rows — an empty input
            # must yield a valid empty index, not a TypeError
            stats_row_in = [
                (
                    int(obs_stats["n_docs"]),
                    float(obs_stats["avgdl"] or 0.0),
                    int(obs_stats["total_tokens"] or 0),
                    int(obs_stats["max_dl"] or 0),
                )
            ]
            spark.createDataFrame(
                spark.sparkContext.parallelize(stats_row_in, 1),
                "n_docs long, avgdl double, total_tokens long, max_dl long",
            ).write.mode("overwrite").parquet(self.path("stats"))
            self._mark_stage(m, "stats", fp)
        if stop("stats"):
            return
        stats_row = spark.read.parquet(self.path("stats")).collect()[0]
        avgdl = float(stats_row["avgdl"])
        max_dl = int(stats_row["max_dl"])

        # doc_id bounds guard the packed int64 path (doc_id must fit
        # 63-DL_BITS bits) and the int doc_part partition key —
        # caller-supplied ids outside these bounds would otherwise
        # overflow SILENTLY into corrupted postings/partitions.
        # Fresh builds validated pre-write (id_bounds above); a
        # resume that skipped the docs stage re-derives them with one
        # column-pruned agg over the stored table.
        if id_bounds is not None:
            max_doc_id = id_bounds[1]
        else:
            _, max_doc_id = check_doc_id_bounds(docs_t, docs_span)

        # stage: blocks (span-aligned, delta+varint, block-max meta).
        # ONE shuffle: the raw occurrence stream hash-partitions by
        # (field, term, span) and sorts; the encoder collapses sorted
        # duplicate runs into tf — no separate groupBy shuffle and no
        # tf intermediate table.
        if not self._stage_done(m, "blocks", fp):
            span = self.span
            # the 16 MB scan splits feed the CPU-heavy tokenize+
            # explode map side at full parallelism; the repartition
            # below is a safety net for pathologically few splits
            # (single giant file) only
            docs_in = docs_t
            if docs_in.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
                docs_in = docs_in.repartition(nparts)
            # date-format metadata: parse configured string date
            # fields to epoch-micros terms for INDEXING only (the doc
            # store above kept the raw strings); inferred typed
            # columns likewise cast to canonical term strings
            docs_in = apply_date_fields(docs_in, self.date_fields)
            docs_in = apply_typed_fields(docs_in, self.typed_fields)
            fields = index_fields(m["params"])
            exact_all = fields[len(self.analyzed_fields):]
            # range boundaries for the bucketed block layout: one
            # cheap sampled job; persisted in the manifest so every
            # query computes the identical bucket driver-side
            boundaries = sample_term_boundaries(
                docs_in, self.analyzed_fields, exact_all,
                n_rows, n_buckets=self.n_buckets,
            )
            m["params"]["bucket_boundaries"] = boundaries
            bucket_of = lambda c: term_bucket_expr(c, boundaries)  # noqa: E731
            # Shuffle-row shrink: field rides as a byte code and
            # span_id is an exchange-only expression (recomputed from
            # doc_id post-shuffle).
            occ = _occurrence_stream(
                docs_in, self.analyzed_fields, exact_all,
                include_whole=False,
                field_codes={f: i for i, f in enumerate(fields)},
            )
            # doc_id and dl pack into one int64 when doc lengths fit
            # DL_BITS (measured, not assumed) — one less column
            # through shuffle + Arrow; packed is monotonic in doc_id
            # so sorting by it IS the doc order.  The packed path
            # needs BOTH halves to fit: dl in DL_BITS and doc_id in
            # the remaining 63-DL_BITS bits.
            dl_bits = (
                DL_BITS
                if max_dl < (1 << DL_BITS)
                and max_doc_id < (1 << (63 - DL_BITS))
                else None
            )
            if dl_bits is not None:
                stream = occ.select(
                    "fid",
                    "term",
                    (
                        F.col("doc_id") * F.lit(1 << dl_bits) + F.col("dl")
                    ).alias("packed"),
                )
                # integer division for the exchange key: double
                # division loses integer precision past 2^53, so
                # doc_ids above ~2^33 (well under the 8.8T-doc
                # target) could misround near span boundaries and
                # fragment a (term, span) group into duplicate
                # blocks (readers stay correct — additive — but
                # the layout degrades)
                span_expr = F.expr(f"packed div {span * (1 << dl_bits)}")
                sort_cols = ["fid", "term", "packed"]
            else:
                stream = occ
                span_expr = F.expr(f"doc_id div {span}")
                sort_cols = ["fid", "term", "doc_id"]
            # HASH partition by the block key, then sort within
            # partitions: gives the encoder co-located, contiguous
            # (field, term, span) groups WITHOUT repartitionByRange's
            # extra sampling pass (which re-runs tokenize+explode over
            # the whole corpus just to pick boundaries).  The span
            # component of the key keeps hot-term groups bounded (the
            # skew salt).
            arranged = stream.repartition(
                nparts, F.col("fid"), F.col("term"), span_expr
            ).sortWithinPartitions(*sort_cols)
            blocks = arranged.mapInArrow(
                arrow_carry_encoder(
                    avgdl=avgdl, span=span, fields=fields, dl_bits=dl_bits
                ),
                schema=BLOCK_SCHEMA,
            )
            # whole-string extra terms (index.go:546-553) bypass the
            # occurrence shuffle entirely: they are ~100 B each (half
            # the shuffle bytes) and a doc indexes its whole string
            # exactly once, so each row encodes directly into its own
            # singleton block — no occurrence-stream shuffle, and the
            # index content stays a pure function of the data at any
            # parallelism.  Every reader (decode, WAND bounds,
            # terms-df aggregation) is additive over blocks, so
            # per-doc blocks are semantically identical to merged
            # ones.
            ws = _whole_string_stream(docs_in, self.analyzed_fields).mapInArrow(
                arrow_singleton_encoder(avgdl=avgdl, span=span),
                schema=BLOCK_SCHEMA,
            )
            # ONE write, bucket-partitioned: encoder output + ws
            # singletons flow through a single cheap hash-on-bucket
            # exchange of the ~50x-compressed blocks (no staging
            # write/re-read, and — unlike repartitionByRange — no
            # sampling pass that would re-run the expensive lineage),
            # then land in bucket=<k>/ subdirectories, ~one sorted
            # file per bucket.  A query's term maps to its bucket
            # DRIVER-side (bisect over the manifest boundaries), so
            # lookups prune at the DIRECTORY level — stronger than
            # footer-min/max pruning — and each file stays
            # (field, term, span)-sorted for row-group pruning
            # inside the bucket.
            (
                blocks.unionByName(ws)
                .withColumn("bucket", bucket_of(F.col("term")))
                .repartition(max(self.n_buckets, 1), "bucket")
                .sortWithinPartitions("field", "term", "span_id")
                .write.mode("overwrite")
                .option("parquet.block.size", 8 * 1024 * 1024)
                .partitionBy("bucket")
                .parquet(self.path("blocks"))
            )
            self._mark_stage(m, "blocks", fp)
        if stop("blocks"):
            return
        # explicit schema: an empty corpus writes a file-less blocks
        # table (inference would fail)
        blocks_t = spark.read.schema(BLOCK_SCHEMA + ", bucket int").parquet(
            self.path("blocks")
        )

        # stage: terms (per-term df/cf + global max block score bound).
        # ONE shuffle (the groupBy); each output file is then sorted
        # by (field, term) with 1 MB row groups, so a per-query term
        # lookup prunes to ~one row group PER FILE via parquet min/max
        # stats (the LSM "sorted term dictionary" property,
        # engine_test.go:71-174 analog).  A second repartitionByRange
        # would make files disjoint too, but costs a full extra
        # shuffle + sampling pass per build for a table only the
        # hot-query fallback reads — measured not worth it.
        if not self._stage_done(m, "terms", fp):
            terms = (
                blocks_t.groupBy("bucket", "field", "term")
                .agg(
                    F.sum("n_docs").cast("long").alias("df"),
                    F.max("max_tf_norm").alias("max_tf_norm"),
                    F.count(F.lit(1)).cast("long").alias("n_blocks"),
                )
                .sortWithinPartitions("field", "term")
            )
            terms.write.mode("overwrite").option(
                "parquet.block.size", 1024 * 1024
            ).partitionBy("bucket").parquet(self.path("terms"))
            self._mark_stage(m, "terms", fp)
        if stop("terms"):
            return

        # stage: counters (per-partition lineage — north_rule)
        if not self._stage_done(m, "counters", fp):
            # manifest totals ride the write as an Observation — the
            # old read-back aggregate was a whole extra job whose
            # fixed cost never shrank with cores
            obs_tot = Observation()
            counters = blocks_t.groupBy("part_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.approx_count_distinct("term").alias("n_terms_approx"),
                F.sum("n_docs").cast("long").alias("n_postings"),
                F.sum(
                    F.length("docs_enc") + F.length("tfs_enc") + F.length("dls_enc")
                ).cast("long").alias("bytes"),
            ).observe(
                obs_tot,
                F.sum("n_blocks").alias("tb"),
                F.sum("n_postings").alias("tp"),
                F.sum("bytes").alias("by"),
            )
            counters.write.mode("overwrite").parquet(self.path("counters"))
            tot = obs_tot.get
            self._mark_stage(
                m,
                "counters",
                fp,
                total_blocks=int(tot.get("tb") or 0),
                total_postings=int(tot.get("tp") or 0),
                total_bytes=int(tot.get("by") or 0),
            )


def logical_postings(
    docs: DataFrame, field: str = "text", n_salts: int = 32
) -> DataFrame:
    """Whole-term logical posting arrays via the salted two-phase
    sort-merge groupBy named by the north_rule: phase 1 builds
    per-(term, salt) sorted partials (bounded group size for hot
    terms); phase 2 merges the ≤n_salts partials per term.

    This is the distributed successor of the reference's MergeSet
    read-modify-write (``store/utils.go:39-93``): same sorted-unique
    invariant, produced by aggregation instead of point updates.
    Returns (field, term, df, doc_ids sorted-unique array).
    """
    pairs = (
        docs.select(
            F.explode(terms_col(F.col(field))).alias("term"), "doc_id"
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("salt", F.pmod(F.col("doc_id"), F.lit(n_salts)))
    )
    partial = pairs.groupBy("term", "salt").agg(
        F.sort_array(F.collect_list("doc_id")).alias("partial_ids")
    )
    merged = partial.groupBy("term").agg(
        F.array_sort(F.flatten(F.collect_list("partial_ids"))).alias("doc_ids")
    )
    return merged.select(
        F.lit(field).alias("field"),
        "term",
        F.size("doc_ids").cast("long").alias("df"),
        "doc_ids",
    )
