#!/usr/bin/env python3
"""Multiply the driver testdata by N copies with per-copy key offsets.

Usage: python3 tools/scale_up.py SRC_DIR DST_DIR COPIES [--organic]

Key-offset scheme (see VERDICT r5 #1): copy c = 0..N-1 is the source
table with every key column shifted by c*STRIDE, so primary keys
stay unique and every FK relationship (orders->customer,
lineitem->orders/part/supplier) lands on the matching shifted copy.
Dimension tables (region, nation) are NOT multiplied — at 100 TB the
dims stay broadcast-size while facts grow, which is exactly the shape
this scaled corpus should reproduce.

--organic (round 12, VERDICT r11 #1): the plain multiply is a CLONE
corpus — every copied document/embedding repeats its base content
verbatim, so DISTINCT-content cardinality stays frozen at the sf0.1
level (~5k texts / 2k vectors) no matter the multiplier, and the
collapse-first machinery's distinct side has never been exercised at
large m. With --organic each copy c >= 1 is deterministically
PERTURBED so distinct contents scale with N while structure stays
realistic:
  - documents.text gets a two-token per-(copy, doc) suffix
    " og<c> w<h>" (h = doc_id % 997 — doc-specific so the salt never
    CREATES similarity between unrelated docs of one copy; 997 prime
    keeps the residues spread across the id range);
    copies of one base doc stay near-duplicates of each other (the
    suffix moves a ~60-word doc's shingle/gram Jaccard to ~0.9), so
    near-dup families now have N distinct members — the regime where
    every group in the collapse-first groups view is real work, not a
    clone collapse. n_chars is kept consistent with the new length.
  - embeddings.embedding gets dim 0 shifted by c * 1e-3 (float32):
    distinct (label, embedding) groups scale xN, cross-copy cosine
    stays ~1 so similarity structure survives.
All other tables keep the plain clone multiply (only the
documents/embeddings-driven queries read perturbed content). Answers
are recomputed by the UNCHANGED naive DuckDB oracles on the same
corpus, so no oracle substitution is needed at any organic scale the
oracle itself can chew.

Schema is preserved exactly via pyarrow (events keeps timestamp[ns],
embeddings keeps list<float>), so graft.Engine.registerTables and the
DuckDB oracle read the result identically to the driver-generated dirs.
"""
import sys
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

STRIDE = 10_000_000  # > every key in sf0.1 (max o_orderkey ~600k)

# table -> key columns to offset per copy
KEYS = {
    "region": None,            # dim: single copy
    "nation": None,            # dim: single copy
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def perturb(table, part, c, schema):
    """Deterministic per-copy content perturbation (--organic, c >= 1)."""
    import numpy as np
    cols = {name: part.column(name) for name in schema.names}
    if table == "documents":
        # doc-specific salt: never equal across copies (the og<c> token), and
        # mostly distinct within a copy (w<doc_id%997>) — a copy-constant
        # salt would CREATE gram overlap between unrelated docs of one copy.
        ids = cols["doc_id"].combine_chunks().to_numpy() if isinstance(
            cols["doc_id"], pa.ChunkedArray) else cols["doc_id"].to_numpy()
        suffix = pa.array([f" og{c} w{i % 997}" for i in ids], type=pa.string())
        cols["text"] = pc.binary_join_element_wise(cols["text"], suffix, "")
        cols["n_chars"] = pc.add(
            cols["n_chars"],
            pc.cast(pc.utf8_length(suffix), schema.field("n_chars").type))
    elif table == "embeddings":
        la = cols["embedding"].combine_chunks() if isinstance(
            cols["embedding"], pa.ChunkedArray) else cols["embedding"]
        values = la.values.to_numpy(zero_copy_only=False).astype(np.float32, copy=True)
        offsets = la.offsets.to_numpy()
        values[offsets[:-1]] += np.float32(c * 1e-3)  # dim 0 of every vector
        newla = pa.ListArray.from_arrays(la.offsets, pa.array(values, type=pa.float32()))
        cols["embedding"] = newla.cast(schema.field("embedding").type)
    return pa.table([cols[n] for n in schema.names], schema=schema)


def multiply(src, dst, table, copies, organic=False):
    t = pq.read_table(f"{src}/{table}.parquet")
    # drop pandas metadata; keep field types exactly
    schema = t.schema.remove_metadata()
    t = t.cast(schema)
    keys = KEYS[table]
    # stream copy-by-copy through a ParquetWriter: peak memory stays at
    # ~2x one copy, so x1000 facts (600M lineitem rows) fit comfortably.
    # Bounded row groups so Spark gets split parallelism on the big facts.
    n_out = 0
    with pq.ParquetWriter(f"{dst}/{table}.parquet", schema) as w:
        for c in range(copies if keys is not None else 1):
            if c == 0 or keys is None:
                part = t
            else:
                cols = []
                for name in schema.names:
                    col = t.column(name)
                    if name in keys:
                        col = pc.add(col, pa.scalar(c * STRIDE, type=schema.field(name).type))
                    cols.append(col)
                part = pa.table(cols, schema=schema)
                if organic and table in ("documents", "embeddings"):
                    part = perturb(table, part, c, schema)
            w.write_table(part, row_group_size=262_144)
            n_out += part.num_rows
    print(f"{table}: {t.num_rows} -> {n_out} rows", flush=True)


def disk_guard(src, dst, copies, heavy=None):
    """Fail fast if the corpus won't fit (VERDICT r9 #7).

    Projection: every fact table grows by `copies`, dims stay single-copy;
    with --tables, only the listed (`heavy`) tables grow (pass copies=1 and
    the real multiple is applied per-table below).
    Require free >= 2x projection so concurrent dumps/sweeps keep headroom;
    the round-9 ENOSPC killed two Verify dumps mid-write and cost the round
    its headline artifact.
    """
    import os
    import shutil
    heavy_mult = copies
    proj = 0
    for table, keys in KEYS.items():
        sz = os.path.getsize(f"{src}/{table}.parquet")
        if heavy:
            proj += sz * (heavy_mult if table in heavy else 1)
        else:
            proj += sz * (copies if keys is not None else 1)
    free = shutil.disk_usage(dst).free
    if free < 2 * proj:
        sys.exit(
            f"[scale_up] ABORT: projected corpus ~{proj / 1e9:.1f} GB but only "
            f"{free / 1e9:.1f} GB free (< 2x headroom). Remedy: delete a stale "
            "regenerable corpus or dump dir under /root/scale (this script "
            "rebuilds any corpus in minutes), or pick a smaller COPIES.")


def main():
    # --tables A,B (round 15): multiply ONLY the listed tables by COPIES and
    # carry every other table at base (1-copy) scale. The m-scaling family
    # (q43/q45/q46/q47/q66/q73/q74/q84/q101) reads only documents +
    # embeddings, so a docs/embeddings-only multiple is faithful for those
    # queries at ~8% of the full corpus bytes (og1000: ~1.4 GB vs ~17 GB —
    # lineitem alone would be 11 GB nothing reads). Corpora built this way
    # MUST be named/documented as partial (PROVENANCE records the flag);
    # never run the TPC-H-shaped queries against one.
    argv = sys.argv[1:]
    organic = "--organic" in argv
    only = None
    if "--tables" in argv:
        only = set(argv[argv.index("--tables") + 1].split(","))
        unknown = only - set(KEYS)
        if unknown:
            sys.exit(f"[scale_up] unknown tables {sorted(unknown)}")
        argv = [a for i, a in enumerate(argv)
                if a != "--tables" and argv[i - 1] != "--tables"]
    args = [a for a in argv if a != "--organic"]
    src, dst, copies = args[0], args[1], int(args[2])
    import os
    os.makedirs(dst, exist_ok=True)
    disk_guard(src, dst, copies, heavy=only)
    for table in KEYS:
        mult = copies if (only is None or table in only) else 1
        multiply(src, dst, table, mult, organic=organic)
    if organic:
        print(f"organic mode: documents/embeddings copies 1..{copies - 1} perturbed "
              "(distinct contents scale with COPIES)", flush=True)
    if only is not None:
        print(f"PARTIAL corpus: only {sorted(only)} multiplied x{copies}; "
              "all other tables at base scale", flush=True)


if __name__ == "__main__":
    main()
