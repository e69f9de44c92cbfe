"""Seeded corpus generators for the benchmark workloads.

One generator per corpus. Each writes only the input files the program
reads (XML, plus the XSD for ``small_files``) under ``<out>/input`` (and
``<out>/schema``), and writes the answers the output checks need to
``<out>/expected.json``, outside the input directory. The same seed gives
byte-identical files.

    python3 perfbench/gen.py small_files --seed 7 --out /path/to/dir
    python3 perfbench/gen.py curate --seed 7 --out /path/to/dir
    python3 perfbench/gen.py plist --seed 7 --out /path/to/dir
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil

# Corpus sizes. The benchmark's run budget (one Spark session start plus
# warm-up, a measured window and the output checks in well under a minute
# on 4 cores) sets them; see perfbench/README.md.
SIZES = {
    "small_files": {"files": 60, "records": 40, "invalid_frac": 0.02},
    "curate": {"files": 4, "docs": 400, "tokens": (160, 240)},
    "plist": {"files": 2, "file_bytes": 250_000},
}

REGIONS = ["APAC", "EU", "LATAM", "MEA", "US"]
STATUSES = ["cancelled", "pending", "returned", "shipped"]
CHANNELS = ["B2B", "B2C", "Partner", "Retail"]
CATEGORIES = [f"cat_{i:02d}" for i in range(12)]
SUPPLIERS = ["acme", "globex", "initech", "umbrella", "wayne"]
GENRES = ["Classical", "Electronic", "Jazz", "Pop", "Rock"]
XML_HEAD = '<?xml version="1.0" encoding="UTF-8"?>\n'


def _rng(seed: int, corpus: str) -> random.Random:
    return random.Random(f"{corpus}:{seed}")


def _fresh(out: str) -> None:
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(os.path.join(out, "input"))


def _write(path: str, text: str) -> int:
    data = text.encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def _dump_expected(out: str, expected: dict) -> None:
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)


def _filler(rng: random.Random, words: int) -> str:
    pool = ("standard", "handling", "applies", "order", "line", "desk",
            "routing", "customer", "supplied", "instructions", "special")
    return " ".join(rng.choice(pool) for _ in range(words))


# -- etl_query -------------------------------------------------------------

SMALL_XSD = """<?xml version="1.0" encoding="UTF-8"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="orders">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="record" maxOccurs="unbounded">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="region" type="xs:string"/>
              <xs:element name="status" type="xs:string"/>
              <xs:element name="channel" type="xs:string"/>
              <xs:element name="category" type="xs:string"/>
              <xs:element name="priority" type="xs:integer"/>
              <xs:element name="price" type="xs:decimal"/>
              <xs:element name="quantity" type="xs:integer"/>
              <xs:element name="order_date" type="xs:date"/>
              <xs:element name="customer" type="xs:string"/>
              <xs:element name="notes" type="xs:string"/>
            </xs:sequence>
            <xs:attribute name="id" type="xs:string" use="required"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""


def gen_small_files(seed: int, out: str) -> dict:
    """Many small flat sales files, each opened by a ``Supplier:<value>``
    comment; about 2% of them break the XSD (a non-integer quantity).
    Record ids run ``R00000000`` upwards across the files."""
    size = SIZES["small_files"]
    rng = _rng(seed, "small_files")
    _fresh(out)
    os.makedirs(os.path.join(out, "schema"))
    _write(os.path.join(out, "schema", "schema.xsd"), SMALL_XSD)
    n_files = size["files"]
    n_invalid = max(1, round(n_files * size["invalid_frac"]))
    invalid = set(rng.sample(range(n_files), n_invalid))
    records_per_file: dict[str, int] = {}
    pools = {"region": REGIONS, "status": STATUSES, "channel": CHANNELS,
             "category": CATEGORIES}
    dims: dict[str, set] = {k: set() for k in (*pools, "Supplier")}
    total_bytes = rid = 0
    for f in range(n_files):
        name = f"orders_{f:05d}.xml"
        supplier = rng.choice(SUPPLIERS)
        n = size["records"]
        bad = rng.randrange(n) if f in invalid else -1
        parts = [XML_HEAD, f"<!--Supplier:{supplier}-->\n<orders>\n"]
        seen: dict[str, set] = {k: set() for k in pools}
        for r in range(n):
            vals = {k: rng.choice(v) for k, v in pools.items()}
            for k, v in vals.items():
                seen[k].add(v)
            qty = "n/a" if r == bad else str(rng.randint(1, 40))
            parts.append(
                f'  <record id="R{rid:08d}">\n'
                + "".join(f"    <{k}>{v}</{k}>\n" for k, v in vals.items())
                + f"    <priority>{rng.randint(1, 5)}</priority>\n"
                f"    <price>{rng.randint(100, 99999) / 100:.2f}</price>\n"
                f"    <quantity>{qty}</quantity>\n"
                f"    <order_date>2024-{rng.randint(1, 12):02d}-"
                f"{rng.randint(1, 28):02d}</order_date>\n"
                f"    <customer>cust_{rng.randrange(400):03d}</customer>\n"
                f"    <notes>{_filler(rng, 12)}</notes>\n"
                f"  </record>\n"
            )
            rid += 1
        parts.append("</orders>\n")
        total_bytes += _write(os.path.join(out, "input", name), "".join(parts))
        if f not in invalid:
            records_per_file[name] = n
            for k, v in seen.items():
                dims[k] |= v
            dims["Supplier"].add(supplier)
    expected = {
        "input_bytes": total_bytes,
        "records_generated": rid,
        "records_per_valid_file": records_per_file,
        "fact_rows": sum(records_per_file.values()),
        "invalid_files": sorted(f"orders_{f:05d}.xml" for f in invalid),
        "dimensions": {k: sorted(v) for k, v in dims.items()},
    }
    _dump_expected(out, expected)
    return expected


# -- known-defect probe ---------------------------------------------------


def _plist_track(rng: random.Random, track_id: int) -> str:
    return (
        f"\t\t<key>{track_id}</key>\n\t\t<dict>\n"
        f"\t\t\t<key>Track ID</key><integer>{track_id}</integer>\n"
        f"\t\t\t<key>Name</key><string>Song {rng.randrange(10**6)}</string>\n"
        f"\t\t\t<key>Artist</key><string>Artist {rng.randrange(300)}"
        f"</string>\n"
        f"\t\t\t<key>Genre</key><string>{rng.choice(GENRES)}</string>\n"
        f"\t\t\t<key>Year</key><integer>{rng.randint(1960, 2024)}</integer>\n"
        "\t\t</dict>\n"
    )


def gen_plist(seed: int, out: str) -> dict:
    """Files shaped like an iTunes library export: a plist of keyed dicts
    whose repeated <key>/<integer>/<string> siblings flatten to ``name``,
    ``name.1``, ..."""
    size = SIZES["plist"]
    rng = _rng(seed, "plist")
    _fresh(out)
    total_bytes = tracks = 0
    for f in range(size["files"]):
        parts = [
            XML_HEAD,
            '<plist version="1.0">\n<dict>\n'
            "\t<key>Major Version</key><integer>1</integer>\n"
            "\t<key>Minor Version</key><integer>1</integer>\n"
            "\t<key>Application Version</key><string>12.9.5.5</string>\n"
            "\t<key>Tracks</key>\n\t<dict>\n",
        ]
        size_now = sum(len(p) for p in parts)
        while size_now < size["file_bytes"]:
            parts.append(_plist_track(rng, 1000 + tracks))
            size_now += len(parts[-1])
            tracks += 1
        parts.append("\t</dict>\n</dict>\n</plist>\n")
        total_bytes += _write(os.path.join(out, "input", f"library_{f:03d}.xml"),
                              "".join(parts))
    expected = {"input_bytes": total_bytes, "tracks": tracks}
    _dump_expected(out, expected)
    return expected


# -- curate_text -----------------------------------------------------------


def _vocab(rng: random.Random, n: int = 4000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def gen_curate(seed: int, out: str) -> dict:
    """Text documents with planted exact copies (~10%), one-token-edited
    near copies (~10%), and a few short, spam and PII documents."""
    size = SIZES["curate"]
    rng = _rng(seed, "curate")
    _fresh(out)
    vocab = _vocab(rng)
    n_docs = size["docs"]
    n_exact = n_docs // 10
    n_near = n_docs // 10
    n_short = n_spam = n_pii = max(3, n_docs // 200)
    n_orig = n_docs - n_exact - n_near - n_short - n_spam
    origs = [
        [rng.choice(vocab) for _ in range(rng.randint(*size["tokens"]))]
        for _ in range(n_orig)
    ]
    for i in rng.sample(range(n_orig), n_pii):
        toks = origs[i]
        toks.insert(rng.randrange(len(toks)), f"{rng.choice(vocab)}@example.com")
        toks.insert(rng.randrange(len(toks)), f"https://{rng.choice(vocab)}.org/x")
        toks.insert(rng.randrange(len(toks)), str(rng.randrange(10**7, 10**9)))
    # disjoint planted sets: an original gets either exact or near copies
    picked = rng.sample(range(n_orig), n_exact + n_near)
    docs: list[tuple[str, str]] = []  # (kind, text) in id order after shuffle
    for toks in origs:
        docs.append(("orig", " ".join(toks)))
    exact_of, near_of = {}, {}
    for j, i in enumerate(picked):
        toks = list(origs[i])
        if j < n_exact:
            exact_of[len(docs)] = i
        else:
            pos = rng.randrange(len(toks))
            toks[pos] = rng.choice([w for w in vocab[:50] if w != toks[pos]])
            near_of[len(docs)] = i
        docs.append(("copy", " ".join(toks)))
    dropped = []
    for _ in range(n_short):
        dropped.append(len(docs))
        docs.append(("short", " ".join(rng.choice(vocab) for _ in range(8))))
    for _ in range(n_spam):
        dropped.append(len(docs))
        a, b = rng.choice(vocab), rng.choice(vocab)
        docs.append(("spam", " ".join([a, b] * 60)))
    # ids are assigned after a shuffle so copies are not adjacent to (and
    # not always after) their originals
    order = list(range(len(docs)))
    rng.shuffle(order)
    doc_id = {k: f"D{pos:06d}" for pos, k in enumerate(order)}
    per_file = -(-len(docs) // size["files"])
    total_bytes = 0
    for f in range(size["files"]):
        parts = [XML_HEAD, "<corpus>\n"]
        for k in order[f * per_file:(f + 1) * per_file]:
            parts.append(
                f'  <record id="{doc_id[k]}">\n'
                f"    <source>{rng.choice(['forum', 'news', 'web'])}</source>\n"
                f"    <text>{docs[k][1]}</text>\n"
                "  </record>\n"
            )
        parts.append("</corpus>\n")
        total_bytes += _write(
            os.path.join(out, "input", f"docs_{f:03d}.xml"), "".join(parts)
        )
    expected = {
        "input_bytes": total_bytes,
        "docs": len(docs),
        "exact_pairs": sorted([doc_id[i], doc_id[k]] for k, i in exact_of.items()),
        "near_pairs": sorted([doc_id[i], doc_id[k]] for k, i in near_of.items()),
        "dropped": sorted(doc_id[k] for k in dropped),
        "pii_docs": n_pii,
    }
    _dump_expected(out, expected)
    return expected


GENERATORS = {
    "small_files": gen_small_files,
    "curate": gen_curate,
    "plist": gen_plist,
}


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("corpus", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    GENERATORS[args.corpus](args.seed, args.out)


if __name__ == "__main__":
    main()
