"""Seeded EMBL corpus and idmapping generator for the ENA workloads.

Writes gzipped EMBL flat files in the record shape of
`tools/EnaFilesScale` and `scripts/bench_flagship.py` (ID/OC lines and
1-3 CDS blocks per record), widened to cover every branch the
segmenter and `Coords.normalizeLocation` take: plain, `complement`,
`join` (including joins continued over several lines), circular
wraparound and partial `<`/`>` spans, plus tombstoned records,
taxonomy-dropped records, unparseable CDS locations and sequence
files in pruned divisions.

Alongside the tree it writes the idmapping parquet
(`foreign_id`, `uniprot_id`) and `manifest.json`: file, record, locus
and mapping counts, gz bytes, and the expected 7-column output as a row
count plus an order-insensitive digest (see `row_hash`). The expected
output is derived from what was generated, not from the program.

Output is cached per (shape, seed): a directory whose manifest records
the same shape parameters and location is reused as is.
"""
import gzip
import hashlib
import json
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

MASK64 = (1 << 64) - 1

# Divisions the sequence-tree prune keeps, and ones it drops.
KEPT_DIVISIONS = ["PRO", "ENV", "FUN", "PHG"]
PRUNED_DIVISIONS = ["HUM", "MAM", "ROD", "VRT", "PLN", "MUS"]

SHAPES = {
    # A few large files: gunzip, segmentation, normalization and the
    # partitioned write dominate; the idmapping fits the broadcast cap.
    "ena_bulk": dict(
        seq_files=8, pruned_seq_files=3, wgs_files=4,
        wgs_subdirs=["wds", "xds"], records_per_file=800,
        seq_lines=4, mapped_frac=0.7, unmatched_idmap_rows=5000),
    # Hundreds of tiny files and an idmapping well above the broadcast
    # cap in which most rows match no locus: listing, per-file open, the
    # regime probe and the shuffle resolve dominate.
    "ena_many_files": dict(
        seq_files=400, pruned_seq_files=100, wgs_files=200,
        wgs_subdirs=["wds", "xds", "yds", "zds"], records_per_file=4,
        seq_lines=1, mapped_frac=0.7, unmatched_idmap_rows=80_000),
}

# The rule of `EnaPipeline.DivisionTokenRegex` and its prune filter.
_TOKEN = re.compile(r"_(ENV|PRO|FUN|PHG)_")
_SEQUENCE_DIR = re.compile(r"sequence.*/")


def row_hash(line: str) -> int:
    """64-bit hash of one output row: the first 8 bytes of its md5,
    big-endian. The digest of a row multiset is the sum of its row
    hashes mod 2**64, so it does not depend on row order."""
    return int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")


def normalize(ranges, chr_struct, chr_len):
    """Expected (start, end) of a CDS, per the documented rule: linear
    takes (min, max) over all endpoints; circular picks the largest gap,
    with ties going to the wrap gap."""
    if chr_struct != 0:
        pts = [p for r in ranges for p in r]
        return min(pts), max(pts)
    srt = sorted(ranges, key=lambda r: r[0])
    max_gap = (chr_len - srt[-1][1]) + (srt[0][0] - 1)
    idx = -1
    for i in range(len(srt) - 1):
        gap = srt[i + 1][0] - srt[i][1] - 1
        if gap > max_gap:
            max_gap, idx = gap, i
    if idx < 0:
        return srt[0][0], srt[-1][1]
    return srt[idx + 1][0], srt[idx][1]


def _bases(rnd, n):
    return "".join(rnd.choices("acgt", k=n))


def _cds(rnd, circular, chr_len):
    """One CDS block: (location lines, ranges or None, is_complement)."""
    kind = rnd.random()
    a = rnd.randint(1, chr_len - 1200)
    b = a + rnd.randint(60, 1100)
    if kind < 0.02:
        # single-base location: no `lo..hi` range, so the block is dropped
        return [str(a)], None, False
    if circular and kind < 0.25:
        tail = rnd.randint(20, 400)
        head = rnd.randint(20, 400)
        r = [(chr_len - tail, chr_len), (1, head)]
        return [f"join({r[0][0]}..{r[0][1]},{r[1][0]}..{r[1][1]})"], r, False
    if kind < 0.45:
        return [f"{a}..{b}"], [(a, b)], False
    if kind < 0.65:
        return [f"complement({a}..{b})"], [(a, b)], True
    if kind < 0.80:
        n = rnd.randint(2, 5)
        pts = sorted(rnd.sample(range(a, b + 2000), 2 * n))
        r = [(pts[2 * i], pts[2 * i + 1]) for i in range(n)]
        parts = [f"{lo}..{hi}" for lo, hi in r]
        comp = rnd.random() < 0.4
        head = "complement(join(" if comp else "join("
        tail = "))" if comp else ")"
        # continue long joins on a second line, split after a comma
        k = len(parts) // 2
        if n >= 4:
            return ([head + ",".join(parts[:k]) + ",",
                     ",".join(parts[k:]) + tail], r, comp)
        return [head + ",".join(parts) + tail], r, comp
    if kind < 0.92:
        return [f"<{a}..>{b}"], [(a, b)], False
    return [f"complement(<{a}..{b})"], [(a, b)], True


def _write_file(path, rnd, tag, f, shape, keep, idmap, expected, counts):
    division = _division(path)
    out = []
    for r in range(shape["records_per_file"]):
        rid = f"{tag}{f:05d}R{r:05d}"
        u = rnd.random()
        chr_len = rnd.randint(3000, 400000)
        struct = "circular" if u < 0.2 else "linear" if u < 0.97 else "other"
        out.append(f"ID   {rid}; SV 1; {struct}; genomic DNA; STD; PRO; {chr_len} BP.")
        out.append("XX")
        out.append(f"DE   Synthetic record {rid}.")
        t = rnd.random()
        if t < 0.05:
            out.append("OC   Eukaryota; Metazoa; Chordata; Mammalia.")
            dropped = True
        elif t < 0.10:
            out.append("OC   Eukaryota; Fungi; Ascomycota.")
            dropped = False
        else:
            out.append("OC   Bacteria; Proteobacteria; Gammaproteobacteria.")
            dropped = False
        out.append(f"FT   source          1..{chr_len}")
        out.append('FT                   /organism="Synthetic organism"')
        live = struct != "other" and not dropped and keep
        counts["records"] += 1
        chr_struct = 0 if struct == "circular" else 1
        locus_idx = 0
        for l in range(rnd.randint(1, 3)):
            if rnd.random() < 0.3:
                out.append(f"FT   gene            1..{chr_len // 2}")
                out.append(f'FT                   /gene="g{l}"')
            loc_lines, ranges, comp = _cds(rnd, struct == "circular", chr_len)
            out.append(f"FT   CDS             {loc_lines[0]}")
            out.extend(f"FT                   {x}" for x in loc_lines[1:])
            pids = [f"{tag}{f:05d}P{r:05d}N{l}.1"]
            if rnd.random() < 0.1:
                pids.append(f"{tag}{f:05d}P{r:05d}M{l}.1")
            if rnd.random() < 0.05:
                pids = []
            uniprot = []
            if rnd.random() < 0.6:
                uniprot.append(f"F{tag}{f:05d}{r:05d}{l}")
            for p in pids:
                out.append(f'FT                   /protein_id="{p}"')
            for x in uniprot:
                out.append(f'FT                   /db_xref="UniProtKB/TrEMBL:{x}"')
            out.append('FT                   /product="hypothetical protein"')
            rev = []
            for p in pids:
                if rnd.random() < shape["mapped_frac"]:
                    ids = [f"U{p[:-2]}a"] + ([f"U{p[:-2]}b"] if rnd.random() < 0.5 else [])
                    idmap.extend((p, x) for x in ids)
                    rev.extend(ids)
            if ranges is None:
                continue
            locus_idx += 1
            if not live:
                continue
            counts["loci"] += 1
            counts["resolved_loci"] += bool(rev)
            start, end = normalize(ranges, chr_struct, chr_len)
            direction = 0 if comp else 1
            for x in (rev or uniprot):
                expected.append(f"{division}\t{rid}\t{x}\t{locus_idx}\t"
                                f"{chr_struct}\t{direction}\t{start}\t{end}")
        out.append("SQ   Sequence 120 BP; 30 A; 30 C; 30 G; 30 T; 0 other;")
        for _ in range(shape["seq_lines"]):
            out.append("     " + _bases(rnd, 60))
        out.append("//")
    with gzip.open(path, "wt", compresslevel=6) as fh:
        fh.write("\n".join(out) + "\n")


def _division(path):
    m = re.search(r"(wgs)/(\w*)/(\w*)", path)
    if m:
        return "-".join(m.groups())
    m = re.search(r"sequence/(\w*)", path)
    return f"sequence-{m.group(1)}" if m else "unknown"


def _kept(path):
    return not _SEQUENCE_DIR.search(path) or bool(_TOKEN.search(path))


def _unmatched(shape_name, cache_root):
    """The shape's idmapping rows that match no locus, UniProt-like ids
    of foreign proteins. They do not depend on the seed, so they are
    generated once per shape."""
    n = SHAPES[shape_name]["unmatched_idmap_rows"]
    path = os.path.join(cache_root, f"{shape_name}-unmatched-{n}.parquet")
    if not os.path.exists(path):
        rnd = random.Random(f"unmatched:{shape_name}")
        table = pa.table({
            "foreign_id": [f"X{rnd.getrandbits(40):011X}.{i % 3 + 1}"
                           for i in range(n)],
            "uniprot_id": [f"A{i:09d}" for i in range(n)]})
        os.makedirs(cache_root, exist_ok=True)
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


def generate(shape_name, seed, cache_root):
    """Return the directory of (shape, seed), generating it if absent."""
    shape = SHAPES[shape_name]
    out = os.path.abspath(os.path.join(cache_root, f"{shape_name}-s{seed}"))
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            m = json.load(fh)
        if m["root"] == os.path.join(out, "in") and m["params"] == shape:
            return out
    shutil.rmtree(out, ignore_errors=True)
    rnd = random.Random(f"{shape_name}:{seed}")
    root = os.path.join(out, "in")
    plan = []
    for f in range(shape["seq_files"]):
        if f < shape["pruned_seq_files"]:
            div = PRUNED_DIVISIONS[f % len(PRUNED_DIVISIONS)]
        else:
            div = KEPT_DIVISIONS[f % len(KEPT_DIVISIONS)]
        plan.append(os.path.join(root, "sequence", "con",
                                 f"rel_con_{div}_{f:05d}_r1.dat.gz"))
    for f in range(shape["wgs_files"]):
        sub = shape["wgs_subdirs"][f % len(shape["wgs_subdirs"])]
        plan.append(os.path.join(root, "wgs", "public", sub,
                                 f"W{f:05d}01.dat.gz"))
    rnd.shuffle(plan)  # interleave kept and pruned files in the tree
    idmap, expected = [], []
    counts = dict(records=0, loci=0, resolved_loci=0)
    gz_kept = gz_total = n_kept = 0
    for f, path in enumerate(plan):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keep = _kept(path)
        _write_file(path, rnd, "E" if "sequence" in path else "W", f, shape,
                    keep, idmap, expected, counts)
        size = os.path.getsize(path)
        gz_total += size
        if keep:
            gz_kept += size
            n_kept += 1
    # idmapping: the mapped protein ids, plus the shape's rows that
    # match no locus
    random.Random(f"idmap:{shape_name}:{seed}").shuffle(idmap)
    idmap_dir = os.path.join(out, "idmapping.parquet")
    os.makedirs(idmap_dir)
    pq.write_table(pa.table({"foreign_id": [p for p, _ in idmap],
                             "uniprot_id": [u for _, u in idmap]}),
                   os.path.join(idmap_dir, "part-00000.parquet"))
    shutil.copyfile(_unmatched(shape_name, cache_root),
                    os.path.join(idmap_dir, "part-00001.parquet"))
    digest = 0
    for line in expected:
        digest = (digest + row_hash(line)) & MASK64
    m = dict(
        shape=shape_name, params=shape, seed=seed, root=root,
        idmapping=os.path.join(out, "idmapping.parquet"),
        files=len(plan), files_kept=n_kept, gz_bytes=gz_total,
        gz_bytes_kept=gz_kept, records=counts["records"],
        loci=counts["loci"], resolved_loci=counts["resolved_loci"],
        idmap_rows=len(idmap) + shape["unmatched_idmap_rows"],
        idmap_mapped_rows=len(idmap),
        expected_rows=len(expected),
        expected_digest=f"{len(expected)}:{digest:016x}")
    with open(manifest + ".tmp", "w") as fh:
        json.dump(m, fh, indent=1)
    os.replace(manifest + ".tmp", manifest)
    return out
