"""Seeded input generator for the Sailfish pipeline workloads.

Writes a genome FASTA, a GTF whose multi-isoform genes share exons, a single
FASTQ of reads sampled from the annotated transcripts, and the relative
abundances the program should estimate from them (`truth.tsv`). The same (spec, seed) gives byte-identical
files.

Layout of one gene (six exons E0..E5 separated by introns):

    iso 1: E0 E1 E2 E3          hull [E0.start, E3.end)
    iso 2:    E1 E2    E4       hull [E1.start, E4.end)   (skips E3)
    iso 3:       E2 E3 E4 E5    hull [E2.start, E5.end)

The indexer extracts each transcript's hull (first exon start to last exon
end), so reads are sampled from hulls: every read k-mer then exists in the
index unless a substitution or an `N` breaks it.

`truth.tsv` holds the relative abundances the program estimates from these
reads, in expectation. The index keys each equivalence class by (transcript,
multiplicity), so a k-mer that several hulls hold is credited in full to each
of them, and the EM has one transcript per class. Its estimate for transcript
i is therefore (read k-mer occurrences on hull i's k-mers) / (l_i - K + 1),
normalized, where l_i is the sum over i's exons of (width - 1): the length
the M step divides by. The truth is that ratio over the expected read
coverage; substitutions and `N` bases remove k-mers at the same rate
everywhere and leave it unchanged.

Abundances are lognormal: evenly spaced lognormal quantiles, shuffled over
the transcripts; exon and intron lengths are evenly spaced over their ranges
and shuffled the same way. To keep run-to-run figures comparable across
seeds, that layout does not depend on the seed (the annotation and the truth
are the same for every seed of a preset). The genome bases, read positions
and errors are drawn from the seed.
"""

import os
from statistics import NormalDist

import numpy as np

READ_LEN = 100
K = 20  # k-mer length of the index and of quantify
ISOFORMS = ((0, 1, 2, 3), (1, 2, 4), (2, 3, 4, 5))
EXONS_PER_GENE = 6
CONTIG = "chr1"

# Sizes are set so that the benchmark's runs fit its time budget on a loaded
# 4-core host; see README.md. `short` genes have shorter exons and introns:
# more transcripts for the same amount of sequence (the k-mer calibration's
# cost).
PRESETS = {
    "quant_default": dict(genes=4, short=True,
                          reads=20_000, sub_rate=0.0, n_rate=0.0),
    "quant_reads": dict(genes=50, short=False,
                        reads=120_000, sub_rate=0.002, n_rate=0.0005),
}

_BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
_N = ord("N")


def _quantile_set(n, mu, sigma):
    """n evenly spaced quantiles of a lognormal(mu, sigma), ascending."""
    nd = NormalDist(mu, sigma)
    return np.exp(np.array([nd.inv_cdf((i + 0.5) / n) for i in range(n)]))


def _lengths(rng, n, lo, hi):
    """n integer lengths spread evenly over [lo, hi], in seeded order."""
    return rng.permutation(np.linspace(lo, hi, n).round().astype(np.int64))


def layout(rng, genes, short=False):
    """Gene models on one contig: [(gene_id, [(start, end) per exon])] and
    the contig length. Coordinates are 0-based half-open."""
    exon_len = iter(_lengths(rng, genes * EXONS_PER_GENE,
                             *((60, 150) if short else (150, 450))))
    intron_len = iter(_lengths(rng, genes * (EXONS_PER_GENE - 1),
                               *((40, 120) if short else (80, 400))))
    spacer_len = iter(_lengths(rng, genes + 1, 200, 1200))
    models = []
    pos = int(next(spacer_len))
    for g in range(genes):
        exons = []
        for x in range(EXONS_PER_GENE):
            if x:
                pos += int(next(intron_len))
            exons.append((pos, pos + int(next(exon_len))))
            pos = exons[-1][1]
        models.append((f"g{g + 1}", exons))
        pos += int(next(spacer_len))
    return models, pos


def transcripts(models):
    """(tid, gene_id, exons) for every isoform, in annotation order."""
    return [(f"{gid}.t{n}", gid, [exons[x] for x in iso])
            for gid, exons in models for n, iso in enumerate(ISOFORMS, 1)]


def _mutate(rng, block, sub_rate, n_rate):
    """Apply substitutions (to a different base) and sparse N bases in place."""
    if sub_rate > 0:
        hit = rng.random(block.shape) < sub_rate
        codes = np.searchsorted(_BASES, block[hit])
        block[hit] = _BASES[(codes + rng.integers(1, 4, codes.size)) % 4]
    if n_rate > 0:
        block[rng.random(block.shape) < n_rate] = _N


def expected_estimate(txs, weight):
    """The program's expected relative abundances when reads start uniformly
    within hulls and transcript i gets a share `weight[i]` of the reads."""
    hs = np.array([ex[0][0] for _, _, ex in txs])
    he = np.array([ex[-1][1] for _, _, ex in txs])
    starts = he - hs - READ_LEN + 1
    # read starts per base along the contig
    density = np.zeros(he.max() + 1)
    np.add.at(density, hs, weight / starts)
    np.add.at(density, hs + starts, -weight / starts)
    density = np.cumsum(density)
    # read k-mer occurrences starting at p: reads starting in [p - (READ_LEN - K), p]
    c = np.concatenate(([0.0], np.cumsum(density)))
    p = np.arange(len(density))
    coverage = c[p + 1] - c[np.maximum(p + 1 - (READ_LEN - K + 1), 0)]
    # summed over each hull's k-mer starts [hs, he - K]
    cc = np.concatenate(([0.0], np.cumsum(coverage)))
    mass = cc[he - K + 1] - cc[hs]
    em_length = np.array([sum(e - s - 1 for s, e in ex) - K + 1 for _, _, ex in txs])
    mu = mass / em_length
    return mu / mu.sum()


def generate(out_dir, preset, seed):
    """Write genome.fa, annotation.gtf, reads.fastq and truth.tsv to out_dir."""
    spec = PRESETS[preset]
    fixed = np.random.default_rng(0)  # the layout, the same for every seed
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    models, length = layout(fixed, spec["genes"], spec["short"])
    genome = _BASES[rng.integers(0, 4, length)]

    with open(os.path.join(out_dir, "genome.fa"), "wb") as f:
        f.write(f">{CONTIG}\n".encode())
        seq = genome.tobytes()
        for p in range(0, len(seq), 80):
            f.write(seq[p:p + 80] + b"\n")

    txs = transcripts(models)
    with open(os.path.join(out_dir, "annotation.gtf"), "w") as f:
        f.write("# perfbench synthetic annotation\n")
        for tid, gid, exons in txs:
            for start, end in exons:
                f.write(f'{CONTIG}\tperfbench\texon\t{start + 1}\t{end}\t.\t+\t.\t'
                        f'gene_id "{gid}"; transcript_id "{tid}";\n')

    # reads: transcript ∝ abundance × (number of read start positions)
    abundance = fixed.permutation(_quantile_set(len(txs), 0.0, 1.0))
    hulls = [genome[ex[0][0]:ex[-1][1]] for _, _, ex in txs]
    concat = np.concatenate(hulls)
    offsets = np.cumsum([0] + [len(h) for h in hulls[:-1]])
    starts_per_tx = np.array([len(h) - READ_LEN + 1 for h in hulls])
    weight = abundance * starts_per_tx
    weight /= weight.sum()
    with open(os.path.join(out_dir, "truth.tsv"), "w") as f:
        for (tid, *_), a in zip(txs, expected_estimate(txs, weight)):
            f.write(f"{tid}\t{a!r}\n")

    qual = b"+\n" + b"I" * READ_LEN + b"\n"
    cols = np.arange(READ_LEN)
    with open(os.path.join(out_dir, "reads.fastq"), "wb") as f:
        done, chunk = 0, 50_000
        while done < spec["reads"]:
            n = min(chunk, spec["reads"] - done)
            tx = rng.choice(len(txs), size=n, p=weight)
            pos = (rng.random(n) * starts_per_tx[tx]).astype(np.int64)
            block = concat[(offsets[tx] + pos)[:, None] + cols]
            _mutate(rng, block, spec["sub_rate"], spec["n_rate"])
            f.write(b"".join(b"@r%d\n%s\n%s" % (done + r, block[r].tobytes(), qual)
                             for r in range(n)))
            done += n
