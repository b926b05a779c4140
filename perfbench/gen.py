"""Seeded generator of BLAST-hit inputs for the benchmark.

Writes a zip of JSONL hits in the engine's raw_textreuses schema plus a
JSONL metadata file (publication year and text length per document).
The same seed and size give a byte-identical zip.

Properties the pipeline layers depend on, and how they are controlled:

- Passage popularity is Zipf-skewed: a passage of popularity rank r is
  drawn with weight 1/r^ZIPF_S and occurs in more documents the more
  popular it is. This sets the cluster-size skew, which drives Chinese
  Whispers' votes and reception's many-to-many expansion.
- Every reuse emits 1-3 overlapping fragments whose ends differ by less
  than a tenth of the passage length, so defrag merges pieces; an
  occurrence's exact span recurs across its reuses, so most pieces
  survive defrag unmerged. FRAGMENT_WEIGHTS sets the share merged:
  defrag keeps about 0.72 of the orig pieces, the ratio of a
  491k-hit sample of the real corpus.
- Document names follow the `manifestation[.structure]` grammar in its
  three corpus shapes (ECCO digits, EEBO-TCP with and without a
  structure, BL-Newspapers article ids).

Usage: python3 gen.py OUT_DIR --seed N --hits N
"""

import argparse
import bisect
import json
import os
import random
import zipfile

ZIPF_S = 1.1
# a reuse emits 1, 2 or 3 fragments with these weights; each further
# fragment adds an orig piece that defrag merges away
FRAGMENT_WEIGHTS = (0.875, 0.095, 0.03)
EXPECTED_FRAGMENTS = 1.155
# mean number of reuses an occurrence takes part in; above 1, the
# occurrences of a popular passage join into one large cluster
REUSES_PER_OCCURRENCE = 8
ZIP_ENTRIES = 50
FIXED_ZIP_TIME = (2000, 1, 1, 0, 0, 0)


def _doc_names(rng, n_docs):
    """Document names in the three corpus shapes; EEBO manifestations
    carry several structures, some EEBO ids have no structure."""
    names = []
    while len(names) < n_docs:
        shape = rng.randrange(4)
        if shape == 0:
            names.append("%010d" % rng.randrange(10 ** 10))
        elif shape == 1:
            man = "A%05d" % rng.randrange(10 ** 5)
            for s in range(1 + rng.randrange(3)):
                names.append("%s.headed_%d_text_%d_body_note_at_%d"
                             % (man, s + 1, rng.randrange(9), rng.randrange(10 ** 4)))
        elif shape == 2:
            names.append("A%05d" % rng.randrange(10 ** 5))
        else:
            names.append("NICNF%04d-C00000-N%07d-%05d-001"
                         % (rng.randrange(10 ** 4), rng.randrange(10 ** 7),
                            rng.randrange(10 ** 5)))
    # ids drawn twice collapse to one document
    return sorted(set(names[:n_docs]))


def generate(seed, hits):
    """Return (hit lines, metadata lines) for `seed`, about `hits` hits."""
    rng = random.Random(seed)
    names = _doc_names(rng, max(20, hits // 10))
    years = {}
    docs = []
    for name in names:
        man = name.split(".", 1)[0]
        years.setdefault(man, 1473 + rng.randrange(400))
        docs.append((name, years[man], 20000 + rng.randrange(400000)))

    n_passages = max(4, hits // 6)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(n_passages)]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    reuses = hits / EXPECTED_FRAGMENTS
    passages = []
    for r in range(n_passages):
        length = 120 + rng.randrange(1880)
        n_occ = 2 + int(2 * reuses * weights[r] / acc / REUSES_PER_OCCURRENCE)
        occ = []
        for _ in range(n_occ):
            doc = rng.randrange(len(docs))
            span = length + rng.randrange(length // 20 + 1)
            occ.append((doc, rng.randrange(docs[doc][2] - span), span))
        passages.append(occ)

    lines = []
    seen = set()
    while len(lines) < hits:
        occ = passages[bisect.bisect_left(cum, rng.random() * acc)]
        a, b = rng.sample(range(len(occ)), 2)
        (da, sa, la), (db, sb, lb) = occ[a], occ[b]
        if da == db:
            continue
        # the first fragment spans both occurrences exactly; a further
        # fragment trims up to a tenth off the ends of one side, a piece
        # that defrag merges into that occurrence's exact span
        n_frag = rng.choices((1, 2, 3), FRAGMENT_WEIGHTS)[0]
        for f in range(n_frag):
            d1 = d2 = e1 = e2 = 0
            if f > 0 and rng.randrange(2):
                d1, d2 = rng.randrange(la // 10 + 1), rng.randrange(la // 10 + 1)
            elif f > 0:
                e1, e2 = rng.randrange(lb // 10 + 1), rng.randrange(lb // 10 + 1)
            # hits are distinct, so textreuse ids have one valid order
            key = (da, sa + d1, sa + la - d2, db, sb + e1, sb + lb - e2)
            if key in seen:
                continue
            seen.add(key)
            lines.append(json.dumps({
                "align_length": min(la - d1 - d2, lb - e1 - e2),
                "positives_percent": round(70 + rng.random() * 30, 2),
                "text1_id": docs[da][0], "text1_text": None,
                "text1_text_end": sa + la - d2, "text1_text_start": sa + d1,
                "text2_id": docs[db][0], "text2_text": None,
                "text2_text_end": sb + lb - e2, "text2_text_start": sb + e1,
            }, separators=(",", ":")))
    meta = [json.dumps({"text_name": n, "publication_year": y, "text_length": t},
                       separators=(",", ":")) for n, y, t in docs]
    return lines[:hits], meta


def write(out_dir, seed, hits):
    """Write hits.zip and metadata.jsonl into out_dir; return their paths."""
    lines, meta = generate(seed, hits)
    os.makedirs(out_dir, exist_ok=True)
    zip_path = os.path.join(out_dir, "hits.zip")
    per = -(-len(lines) // ZIP_ENTRIES)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for i in range(0, len(lines), per):
            info = zipfile.ZipInfo("part-%05d.jsonl" % (i // per), FIXED_ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, "\n".join(lines[i:i + per]) + "\n", compresslevel=6)
    meta_path = os.path.join(out_dir, "metadata.jsonl")
    with open(meta_path, "w") as f:
        f.write("\n".join(meta) + "\n")
    return zip_path, meta_path


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--hits", type=int, required=True)
    a = p.parse_args()
    print(*write(a.out_dir, a.seed, a.hits))


if __name__ == "__main__":
    main()
