"""Stats job: warehouse summary from the manifests commit log — NO Spark job.

    spark-submit --py-files vcf2df_spark.zip jobs/stats.py --warehouse WH
    # or plain: python jobs/stats.py --warehouse WH   (driver-side only)

The manifests table is one tiny row per committed partition (the engine's
queryable Parquet-footer analogue), so the whole summary — rows, chunks,
bytes, compression ratio, codec usage, schema, epochs — is an
O(partitions) pyarrow read on the driver, the same no-cluster philosophy
as the routed point lookup (scan.fetch_conversation). At ~400k partitions
this is a sub-second ANALYZE over a 100-TB warehouse. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import collections
import json
import sys
import time


def warehouse_stats(warehouse: str) -> dict:
    from vcf2df_spark.decode import ctypes_from_signatures
    from vcf2df_spark.manifest import WarehouseMeta

    meta = WarehouseMeta.load(warehouse)
    if not meta.exists:
        raise FileNotFoundError(f"{warehouse}/manifests")
    rows = meta.rows((
        "job_id", "partition_id", "n_chunks", "n_rows", "codecs",
        "raw_bytes", "enc_bytes", "schema_sig", "epoch",
    ), committed=True)
    if not rows:
        return {"status": "empty", "warehouse": warehouse}

    codec_use: collections.Counter[str] = collections.Counter()
    sigs = set()
    epochs = set()
    jobs = set()
    n_rows = n_chunks = raw_b = enc_b = 0
    for r in rows:
        n_rows += r.get("n_rows") or 0
        n_chunks += r.get("n_chunks") or 0
        raw_b += r.get("raw_bytes") or 0
        enc_b += r.get("enc_bytes") or 0
        jobs.add(r.get("job_id"))
        if r.get("epoch") is not None:
            epochs.add(r["epoch"])
        for entry in json.loads(r.get("codecs") or "[]"):
            codec_use[entry] += 1  # "column:codec" per partition
        if r.get("schema_sig"):
            sigs.add(r["schema_sig"])
    # the same union (and the same loud ctype conflict) as read planning
    schema = dict(sorted(ctypes_from_signatures(
        (json.loads(s).items() for s in sigs), merge=True
    ).items())) if sigs else None
    # streaming (epoch) warehouses: the block identity is (partition_id,
    # epoch) — counting distinct partition_id alone would understate the
    # physical block-dir count the rest of the engine routes on
    return {
        "status": "ok",
        "warehouse": warehouse,
        "partitions": len({(r["partition_id"], r.get("epoch")) for r in rows}),
        "n_rows": n_rows,
        "n_chunks": n_chunks,
        "raw_bytes": raw_b,
        "enc_bytes": enc_b,
        "compression_ratio": round(raw_b / enc_b, 3) if enc_b else None,
        "schema": schema,
        "codec_partitions": dict(sorted(codec_use.items())),
        "jobs": sorted(j for j in jobs if j),
        "epochs": sorted(epochs) if epochs else None,
    }


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--warehouse", required=True)
    args = p.parse_args(argv)
    t0 = time.time()
    try:
        out = warehouse_stats(args.warehouse)
    except (FileNotFoundError, OSError, ValueError) as e:
        print(json.dumps({"status": "error", "error": str(e)}))
        sys.exit(2)
    out["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(out))


if __name__ == "__main__":
    # `python jobs/stats.py` puts jobs/ on sys.path, not the checkout root
    # that holds the package; appended, so a --py-files zip still wins
    import os

    sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
