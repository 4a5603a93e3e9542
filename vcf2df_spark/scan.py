"""Point lookups and the SQL surface's helpers over the encoded warehouse.

:func:`fetch_conversation` answers one conversation with no Spark job
(manifests routing, then the chunk zone maps, then a row-span decode).
:func:`register_transcript_view`, :func:`pushable_predicates` and
:func:`referenced_columns` back ``jobs/query.py``. Predicate scans go
through :func:`vcf2df_spark.datasource.scan_warehouse`, whose task-side
``chunk_overlaps`` is the one zone-map evaluator: each block row carries
its chunk's min/max (the engine's analogue of Parquet row-group
statistics), so chunks that cannot match are never decoded.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def fetch_conversation(spark: SparkSession, warehouse: str, conv_id: str):
    """Point lookup: one conversation, decoding the minimum possible —
    WITHOUT launching a Spark job.

    Interactive lookups shouldn't pay a cluster round-trip: this is pure
    driver-side (client-side) metadata navigation, the same way a key-value
    get against a columnar store works. Three bounded steps: (1) the
    manifests table (one row per partition) prunes to the ~1 partition dir
    whose conv range covers the key; (2) that directory's chunk zone maps
    (parquet-filtered stats rows) prune to the ~1 candidate chunk; (3) the
    candidate chunk's key columns decode to locate the row span and
    ``text`` decodes via random access (only the FSST/raw byte range
    covering those rows). pyarrow.dataset handles local/S3/HDFS paths
    alike. Returns a pandas DataFrame ordered by turn_idx.

    ``spark`` is unused (kept for call-site compatibility with the
    datasource read APIs and so the CLI can share one entry path).
    """
    import bisect
    import json

    import pandas as pd
    import pyarrow.dataset as pads

    from . import arrow_ops
    from .decode import _column_order, _decode_one, resolve_ctype
    from .manifest import WarehouseMeta, routed_blocks_dirs

    root = f"{warehouse}/blocks"

    # routing first: with hash metadata the lookup opens EXACTLY the routed
    # partition dirs — no whole-tree dataset discovery, which at ~400k
    # partition dirs is the dominant cost. Falls back to one hive-discovered
    # dataset over the tree (bench/flat/epoch layouts, legacy manifests).
    pids, shard_dirs = WarehouseMeta.load(warehouse).route([conv_id])
    sources: list[tuple] = [  # (dataset, fixed_key_dict)
        (dset, {"partition_id": pid})
        for pid, _d, dset in routed_blocks_dirs(root, pids or [], shard_dirs)
    ]
    if not sources:
        dset = pads.dataset(root, format="parquet", partitioning="hive")
        sources = [(dset, {})]

    def _decode_str_row(r, n, lo=0, hi=None):
        m = json.loads(r["meta"])
        payload, aux = bytes(r["payload"] or b""), bytes(r["aux"] or b"")
        if hi is None:
            return arrow_ops.decode_string_column(r["codec"], payload, aux, m, n)
        return arrow_ops.decode_string_rows(r["codec"], payload, aux, m, n, lo, hi)

    def _key_of(r, fixed):
        return (
            fixed.get("partition_id", r.get("partition_id")),
            r["chunk_idx"],
            r.get("epoch"),
        )

    # phase A — locate: candidate chunks from zone maps, then decode ONLY
    # their conv_id blocks (bytes per conversation, strnum/dict-coded) and
    # bisect for the exact row span. Under hash partitioning every chunk's
    # conv range spans the keyspace, so this phase must stay cheap even
    # when zone maps can't prune: payload bytes of the OTHER columns are
    # not touched here.
    hits: list[tuple[int, tuple, int, int, list[str]]] = []
    for si, (dset, fixed) in enumerate(sources):
        names = dset.schema.names
        extra_keys = [c for c in ("partition_id", "epoch") if c in names]
        cand_filter = (
            (pads.field("column") == "conv_id")
            & (pads.field("stat_min_str") <= conv_id)
            & (pads.field("stat_max_str") >= conv_id)
        )
        if not fixed and pids is not None and "partition_id" in names:
            cand_filter = cand_filter & pads.field("partition_id").isin(pids)
        cand = dset.to_table(
            columns=["chunk_idx", "codec", "n_rows", "payload", "aux", "meta"]
            + extra_keys,
            filter=cand_filter,
        ).to_pylist()
        for r in cand:
            n = int(r["n_rows"])
            cids = _decode_str_row(r, n).to_pylist()
            lo = bisect.bisect_left(cids, conv_id)  # chunk sorted by conv_id
            hi = bisect.bisect_right(cids, conv_id)
            if hi > lo:
                hits.append((si, _key_of(r, fixed), lo, hi, cids[lo:hi]))

    if not hits:
        # empty-result schema from the warehouse's own metadata, so a
        # zero-match lookup has the SAME columns (extras included) as a hit
        # — never a hardcoded core list or whichever chunk iterated last
        from .datasource import infer_ctypes

        return pd.DataFrame(columns=_column_order(infer_ctypes(root)))

    # phase B — fetch: full block rows for ONLY the chunks that truly
    # contain the conversation (typically one)
    by_chunk: dict[tuple, dict[str, dict]] = {}
    for si, (dset, fixed) in enumerate(sources):
        keys = [key for s, key, _, _, _ in hits if s == si]
        if not keys:
            continue
        names = dset.schema.names
        expr = None
        for key in keys:
            e = pads.field("chunk_idx") == key[1]
            if "partition_id" in names:
                e = e & (pads.field("partition_id") == key[0])
            if "epoch" in names and key[2] is not None:
                e = e & (pads.field("epoch") == key[2])
            expr = e if expr is None else expr | e
        for r in dset.to_table(filter=expr).to_pylist():
            if r["column"].startswith("__"):
                continue
            by_chunk.setdefault(_key_of(r, fixed), {})[r["column"]] = r

    frames = []
    col_order: list[str] = []
    for _si, key, lo, hi, ids in hits:
        cols = by_chunk[key]
        n = int(cols["conv_id"]["n_rows"])
        col_order = _column_order(cols)
        out = {"conv_id": ids}
        for col in col_order:  # dynamic schema: extras included
            if col == "conv_id":
                continue
            r = cols[col]
            if resolve_ctype(col, json.loads(r["meta"]).get("ctype")) == "str":
                out[col] = _decode_str_row(r, n, lo, hi).to_pylist()
                continue
            vals = _decode_one(r, n).slice(lo, hi - lo).to_numpy(zero_copy_only=False)
            # ts: naive datetime64[ns] holding the UTC wall clock
            out[col] = vals.astype("datetime64[ns]") if vals.dtype.kind == "M" else vals
        frames.append(pd.DataFrame(out))
    return (
        pd.concat(frames, ignore_index=True)
        .sort_values("turn_idx")
        .reset_index(drop=True)[col_order]
    )


def register_transcript_view(spark: SparkSession, warehouse: str,
                             name: str = "transcripts",
                             columns: list[str] | None = None) -> None:
    """Expose the encoded warehouse as a SQL view: ``SELECT ... FROM name``.

    Backed by the ``transcripts`` Python DataSource (datasource.py): one
    scan task per partition's files decodes its co-located chunk groups in
    place,
    so the view costs NO shuffle — unlike the groupBy+applyInArrow decode,
    which must exchange every encoded payload. Combine with
    :func:`vcf2df_spark.datasource.scan_warehouse` for zone-map-pruned
    predicate access. This is the switch-over surface for users of the
    reference: their SQL keeps working, storage is ours.

    ``columns`` registers a NARROW view: Spark does not push Catalyst
    column pruning into Python data sources, so a full view decodes every
    column (text is ~80% of warehouse bytes) even for ``SELECT role``.
    Pass the columns a query actually touches — or let
    :func:`referenced_columns` derive them from the SQL text, as
    ``jobs/query.py`` does by default.
    """
    from .datasource import read_warehouse

    read_warehouse(spark, warehouse, columns=columns).createOrReplaceTempView(
        name
    )


def pushable_predicates(sql: str, view: str, available: list[str]) -> list[str]:
    """Top-level WHERE conjuncts safe to bake into a pruned relation.

    The SQL view format deliberately has no pushdown (the Spark 4.1
    readInfo staleness hazard), so ``jobs/query.py`` instead extracts the
    query's own simple conjuncts and backs the view with
    ``scan_warehouse(predicate=these)`` — the baked-filter pattern that IS
    safe. Baking a top-level AND conjunct of the query's WHERE never
    changes the result (WHERE runs before GROUP BY, and Spark re-applies
    the full predicate exactly); pruning/routing is pure gain — a
    ``conv_id = 'x'`` SQL query plans only the routed partition dirs.

    Ultra-conservative grammar, [] on any doubt: the view must appear
    exactly once with no JOIN; the WHERE clause must be AND-conjuncts of
    ``bare_ident OP literal`` (OP in = < > <= >=, or IN over literals;
    literals are numbers or simple quoted strings); any OR/NOT/BETWEEN/
    subquery/function/qualified name bails out entirely.
    """
    import re

    if "--" in sql or "/*" in sql:
        return []  # comments could disguise non-applied text as a conjunct
    # exactly ONE SELECT: with set operations (UNION/...), derived tables
    # in FROM, or scalar subqueries, a WHERE found by regex may belong to
    # a different scope (or to renamed columns) — baking it onto the base
    # relation would silently drop rows
    if len(re.findall(r"(?i)\bselect\b", sql)) != 1:
        return []
    if re.search(r"(?i)\b(union|intersect|except)\b", sql):
        return []
    if len(re.findall(rf"(?i)(?<!\w){re.escape(view)}(?!\w)", sql)) != 1:
        return []
    if re.search(r"(?i)\bjoin\b", sql):
        return []
    m = re.search(
        r"(?is)\bwhere\b(.*?)(?:\bgroup\s+by\b|\border\s+by\b|\blimit\b"
        r"|\bhaving\b|\bwindow\b|$)",
        sql,
    )
    if not m:
        return []
    clause = m.group(1).strip()
    if re.search(r"(?i)\bor\b|\bnot\b|\bbetween\b|\bexists\b|\(\s*select", clause):
        return []
    if clause.count("'") % 2:  # imbalanced quotes: do not attempt to parse
        return []
    lit = r"(?:-?\d+(?:\.\d+)?|'[^']*')"
    simple = rf"^\s*(\w+)\s*(=|<=|>=|<|>)\s*{lit}\s*$"
    inlist = rf"^\s*(\w+)\s+(?i:in)\s*\(\s*{lit}(?:\s*,\s*{lit})*\s*\)\s*$"
    cols = {c.lower() for c in available}
    out: list[str] = []
    for conj in re.split(r"(?i)\band\b", clause):
        m2 = re.match(simple, conj) or re.match(inlist, conj)
        if m2 and m2.group(1).lower() in cols:
            out.append(conj.strip())  # a true top-level conjunct: bakeable
        elif "'" in conj:
            # a quote in an unmatched fragment means the AND split may have
            # cut through a string literal — abandon the whole extraction
            return []
        # else: a complex conjunct (function call, cast, ...) — skip it;
        # the remaining matched conjuncts are still sound to bake
    return out


def referenced_columns(sql: str, available: list[str]) -> list[str] | None:
    """Conservative projection inference for the SQL surface.

    Spark cannot push column pruning through a Python data source, so the
    decode set must be fixed when the view is registered. A column can only
    be used by SQL that NAMES it, so matching each available column name as
    a whole word in the query text can over-include (a name inside a string
    literal — costs decode work only) but never under-include. ``count(*)``
    is neutralized first; any remaining ``*`` (``SELECT *``, ``t.*``, or a
    multiplication — over-inclusion again) keeps every column (None).
    A query referencing no columns at all (pure ``count(*)``) still needs
    one column for row counts: the cheapest one (turn_idx, FOR-DELTA ints)
    is used.
    """
    import re

    if re.search(r"(?i)\bnatural\b", sql):
        # NATURAL JOIN uses shared columns WITHOUT naming them — the only
        # construct that breaks the "SQL must name a column to use it"
        # premise; keep the full schema so the implicit key set is intact
        return None
    s = re.sub(r"count\s*\(\s*\*\s*\)", " count_rows ", sql, flags=re.I)
    if "*" in s:
        return None
    hit = [
        c for c in available
        if re.search(rf"(?<!\w){re.escape(c)}(?!\w)", s, re.I)
    ]
    if set(hit) == set(available):
        return None
    if not hit:
        hit = ["turn_idx"] if "turn_idx" in available else [sorted(available)[0]]
    return hit

