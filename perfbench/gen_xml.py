"""Seeded XML inputs for the ``xml_ingest`` workload.

Two shapes, each returned with the exact aggregates a correct reader
must produce (computed from the generated values, not by reading the
files back):

* one large *flat* file of ``<rec>`` records: an ``id`` attribute,
  ``cat``/``val``/``w`` elements, a bulky ``txt`` element the reader is
  never asked for, and decoy comments that contain ``<rec>`` markup.
  Record lengths vary with the seed, so split boundaries fall inside
  records and inside decoys at seed-dependent places;
* many small *nested* files of ``<book>`` records in the shape of the
  books XSD below: optional ``id`` attribute, repeated ``tag``, a float
  price and a date.
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET

import numpy as np

N_CATS = 8
GENRES = ["Systems", "Streaming", "Storage", "Theory", "Networks", "Tools"]
TAGS = ["spark", "olap", "stream", "hive", "avro", "xml", "sql", "jvm"]
WORDS = (
    "shuffle boundaries broadcast joins adaptive execution encodings zone "
    "maps late materialization watermarks stateful operators splits"
).split()

BOOKS_XSD = """\
<xs:schema attributeFormDefault="unqualified" elementFormDefault="qualified" xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="catalog" type="catalogType"/>
  <xs:complexType name="bookType">
    <xs:sequence>
      <xs:element type="xs:string" name="author"/>
      <xs:element type="xs:string" name="title"/>
      <xs:element type="xs:string" name="genre"/>
      <xs:element type="xs:float" name="price"/>
      <xs:element type="xs:date" name="publish_date"/>
      <xs:element type="xs:string" name="description"/>
      <xs:element type="xs:string" name="tag" maxOccurs="unbounded" minOccurs="0"/>
    </xs:sequence>
    <xs:attribute type="xs:string" name="id" use="optional"/>
  </xs:complexType>
  <xs:complexType name="catalogType">
    <xs:sequence>
      <xs:element type="bookType" name="book" maxOccurs="unbounded" minOccurs="0"/>
    </xs:sequence>
  </xs:complexType>
</xs:schema>
"""


def _pad(rng, n_chars: int) -> str:
    """Word text to slice bulky element bodies from."""
    words = np.array(WORDS)[rng.integers(0, len(WORDS), n_chars // 4)]
    return " ".join(words)[:n_chars]


def write_flat(path: str, target_bytes: int, seed: int) -> dict:
    """Write ~``target_bytes`` of flat records; return
    ``{"records": n, "by_cat": {"cK": [count, sum_val, max_val]}}``."""
    rng = np.random.default_rng([seed, 1])
    pad = _pad(rng, 8192)
    avg_len = 62 + 400 + 12  # markup + mean txt + mean digits
    n = max(1, target_bytes // avg_len)
    first_id = int(rng.integers(0, 10**6))
    cats = rng.integers(0, N_CATS, n)
    vals = rng.integers(0, 100_000, n)
    ws = rng.integers(0, 10_000, n)
    txt_len = rng.integers(200, 601, n)
    txt_off = rng.integers(0, len(pad) - 600, n)
    decoy = rng.random(n) < 0.01
    with open(path, "w", buffering=1 << 22) as f:
        f.write('<?xml version="1.0"?>\n<dataset>\n')
        for lo in range(0, n, 65536):
            hi = min(n, lo + 65536)
            parts = []
            for i in range(lo, hi):
                o = txt_off[i]
                parts.append(
                    f'<rec id="{first_id + i}"><cat>c{cats[i]}</cat>'
                    f"<val>{vals[i]}</val><w>{ws[i] / 100}</w>"
                    f"<txt>{pad[o:o + txt_len[i]]}</txt></rec>\n"
                )
                if decoy[i]:
                    parts.append(
                        f'<!-- decoy <rec id="{i}"><cat>c{N_CATS}</cat>'
                        f"<val>{vals[i]}</val></rec> -->\n"
                    )
            f.write("".join(parts))
        f.write("</dataset>\n")
    counts = np.bincount(cats, minlength=N_CATS)
    sums = np.bincount(cats, weights=vals, minlength=N_CATS)
    maxes = np.full(N_CATS, -1, dtype=np.int64)
    np.maximum.at(maxes, cats, vals)
    by_cat = {
        f"c{k}": [int(counts[k]), int(sums[k]), int(maxes[k])]
        for k in range(N_CATS) if counts[k]
    }
    return {"records": int(n), "by_cat": by_cat}


def write_nested(out_dir: str, n_files: int, target_bytes: int, seed: int) -> dict:
    """Write ``n_files`` books files totalling ~``target_bytes``; return
    ``{"records": n, "by_genre": {g: [count, n_id, n_tags, sum_price,
    min_date, max_date]}}``."""
    rng = np.random.default_rng([seed, 2])
    pad = _pad(rng, 4096)
    os.makedirs(out_dir, exist_ok=True)
    per_file = max(1, target_bytes // n_files // 380)
    agg: dict[str, list] = {}
    n_total = 0
    for fi in range(n_files):
        n = int(per_file * rng.uniform(0.8, 1.2))
        genre = rng.integers(0, len(GENRES), n)
        has_id = rng.random(n) < 0.7
        n_tags = rng.integers(0, 5, n)
        tag_ids = rng.integers(0, len(TAGS), int(n_tags.sum()))
        quarters = rng.integers(20, 400, n)  # price = quarters / 4, exact in float32
        days = rng.integers(0, 7300, n)
        desc_len = rng.integers(40, 200, n)
        desc_off = rng.integers(0, len(pad) - 200, n)
        parts = ['<?xml version="1.0"?>\n<catalog>\n']
        t = 0
        for i in range(n):
            g = GENRES[genre[i]]
            date = str(np.datetime64("2000-01-01") + int(days[i]))
            attr = f' id="sb{fi}-{i}"' if has_id[i] else ""
            tags = "".join(
                f"      <tag>{TAGS[k]}</tag>\n" for k in tag_ids[t:t + n_tags[i]]
            )
            t += n_tags[i]
            o = desc_off[i]
            parts.append(
                f"   <book{attr}>\n"
                f"      <author>Author {i % 97}, A.</author>\n"
                f"      <title>Title {fi}.{i}</title>\n"
                f"      <genre>{g}</genre>\n"
                f"      <price>{quarters[i] / 4}</price>\n"
                f"      <publish_date>{date}</publish_date>\n"
                f"      <description>{pad[o:o + desc_len[i]]}</description>\n"
                f"{tags}   </book>\n"
            )
            a = agg.setdefault(g, [0, 0, 0, 0.0, date, date])
            a[0] += 1
            a[1] += int(has_id[i])
            a[2] += int(n_tags[i])
            a[3] += quarters[i] / 4
            a[4] = min(a[4], date)
            a[5] = max(a[5], date)
        parts.append("</catalog>\n")
        with open(os.path.join(out_dir, f"books_{fi:03d}.xml"), "w") as f:
            f.write("".join(parts))
        n_total += n
    return {"records": n_total, "by_genre": agg}


def brute_force_flat(path: str) -> dict:
    """Re-derive the flat answers by reading the file back with plain
    regular expressions (comments removed first)."""
    with open(path) as f:
        text = re.sub(r"<!--.*?-->", "", f.read(), flags=re.S)
    by_cat: dict[str, list] = {}
    n = 0
    for m in re.finditer(r"<rec [^>]*><cat>([^<]*)</cat><val>(\d+)</val>", text):
        a = by_cat.setdefault(m.group(1), [0, 0, -1])
        v = int(m.group(2))
        a[0] += 1
        a[1] += v
        a[2] = max(a[2], v)
        n += 1
    return {"records": n, "by_cat": by_cat}


def brute_force_nested(out_dir: str) -> dict:
    """Re-derive the nested answers with ElementTree."""
    agg: dict[str, list] = {}
    n = 0
    for name in sorted(os.listdir(out_dir)):
        for b in ET.parse(os.path.join(out_dir, name)).getroot().iter("book"):
            date = b.findtext("publish_date")
            a = agg.setdefault(b.findtext("genre"), [0, 0, 0, 0.0, date, date])
            a[0] += 1
            a[1] += "id" in b.attrib
            a[2] += len(b.findall("tag"))
            a[3] += float(b.findtext("price"))
            a[4] = min(a[4], date)
            a[5] = max(a[5], date)
            n += 1
    return {"records": n, "by_genre": agg}
