"""Seeded input generators owned by the benchmark.

Nothing here imports the engine: the inputs depend on the seed and on
this file only, so an engine change cannot shift them. Every generator
returns plain NumPy/pandas data plus its ground truth; ``write_*``
stores the data as Parquet through pyarrow, which is all the engine
ever sees.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Channel set of a generated flight, ``NAME[UNIT]`` convention.
CHANNELS = ["ALT[m]", "Vz[m/s]", "TAS[m/s]", "Tisa[K]", "Masse[kg]", "N1[%]"]
#: Targets the benchmark's Tube fits; anomalies are planted in these.
TUBE_TARGETS = ["TAS[m/s]", "Tisa[K]"]
#: Factors the Tube may use: the channels that follow altitude.
TUBE_FACTORS = ["ALT[m]", "TAS[m/s]", "Tisa[K]", "N1[%]"]
#: Range of the ground-truth cruise-start instant, as a share of record
#: length; wide, so that a detector has to read the data.
CRUISE_START = (0.10, 0.55)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so resizing one input never
    changes another drawn from the same seed."""
    salt = sum((i + 1) * ord(ch) for i, ch in enumerate(stream))
    return np.random.default_rng([seed, salt])


# ----------------------------------------------------------------- flights


@dataclass
class FlightSet:
    frame: pd.DataFrame  # long layout: record_id, seq, ts, channels
    cruise_start: dict[str, int]  # ground-truth instant (seq) per record
    descent_start: dict[str, int]
    lengths: dict[str, int]
    anomalous: list[str] = field(default_factory=list)


def make_flights(
    seed: int,
    n_records: int,
    n_rows: int,
    n_anomalous: int = 0,
) -> FlightSet:
    """Flights sampled once per second: a climb that ends at the
    ground-truth cruise-start instant, a cruise plateau, a descent.

    Speed, temperature and engine regime follow altitude linearly with
    independent noise; mass falls with fuel burn. ``n_anomalous``
    records get a sensor fault: an offset of about 60 noise widths on
    one Tube target over a quarter of the record's rows.
    """
    rng = _rng(seed, "flights")
    parts = []
    truth: dict[str, int] = {}
    descent: dict[str, int] = {}
    lengths: dict[str, int] = {}
    names = [f"FL{i:04d}" for i in range(n_records)]
    t0 = np.datetime64("2024-01-01T00:00:00")
    for i, name in enumerate(names):
        n = int(n_rows * rng.uniform(0.9, 1.1))
        c = int(n * rng.uniform(*CRUISE_START))
        d = int(n * rng.uniform(0.70, 0.85))  # descent start
        top = rng.uniform(9000.0, 11500.0)
        seq = np.arange(n)
        alt = np.empty(n)
        alt[:c] = top * seq[:c] / c
        alt[c:d] = top
        alt[d:] = top * (1.0 - (seq[d:] - d) / (n - d))
        vz = np.gradient(alt) + rng.normal(0.0, 0.3, n)
        alt += rng.normal(0.0, 5.0, n)
        tas = 120.0 + 0.012 * alt + rng.normal(0.0, 1.0, n)
        tisa = 288.15 - 0.0065 * alt + rng.normal(0.0, 0.3, n)
        n1 = 60.0 + 0.002 * alt + rng.normal(0.0, 0.5, n)
        masse = rng.uniform(60000.0, 75000.0) - rng.uniform(0.6, 0.9) * seq
        masse += rng.normal(0.0, 2.0, n)
        start = t0 + np.timedelta64(int(rng.integers(0, 10**7)), "s")
        parts.append(
            pd.DataFrame(
                {
                    "record_id": name,
                    "seq": seq.astype(np.int64),
                    "ts": start + seq.astype("timedelta64[s]"),
                    "ALT[m]": alt,
                    "Vz[m/s]": vz,
                    "TAS[m/s]": tas,
                    "Tisa[K]": tisa,
                    "Masse[kg]": masse,
                    "N1[%]": n1,
                }
            )
        )
        truth[name] = c
        descent[name] = d
        lengths[name] = n
    anomalous = sorted(rng.choice(names, size=n_anomalous, replace=False).tolist())
    for k, name in enumerate(anomalous):
        pdf = parts[names.index(name)]
        target = TUBE_TARGETS[k % len(TUBE_TARGETS)]
        n = len(pdf)
        lo = int(n * rng.uniform(0.4, 0.5))
        width = 20.0 if target == "TAS[m/s]" else 6.0  # ~60 noise widths
        pdf.loc[lo : lo + n // 4, target] += width * 3.0
    frame = pd.concat(parts, ignore_index=True)
    # zone-aware so Parquet marks it UTC-adjusted and Spark reads TIMESTAMP
    frame["ts"] = frame["ts"].astype("datetime64[us]").dt.tz_localize("UTC")
    return FlightSet(frame, truth, descent, lengths, anomalous)


def pick_labelled(fs: FlightSet, n_labelled: int, seed: int) -> dict[str, int]:
    """The records an expert labels: ``{record: cruise-start seq}``."""
    rng = _rng(seed, "labels")
    names = sorted(set(fs.cruise_start) - set(fs.anomalous))
    chosen = rng.choice(names, size=n_labelled, replace=False)
    return {str(r): fs.cruise_start[str(r)] for r in sorted(chosen)}


# ------------------------------------------------------------------ corpus


@dataclass
class Corpus:
    frame: pd.DataFrame  # doc_id: long, text: string
    n_base: int
    groups: dict[int, int]  # doc_id -> id of the base doc it copies
    exact_copies: set[int]  # copies with no edit


#: Corpus shape: a fifth of the documents copy a base document with 2 %
#: of the words replaced; a tenth of the copies are unedited.
COPY_SHARE, EDIT_SHARE, EXACT_SHARE = 0.2, 0.02, 0.1
VOCAB, ZIPF_S, WORDS = 20000, 1.1, (80, 240)


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """Documents of Zipf-distributed words with planted copies. Every
    copy's Jaccard similarity to its base over word 3-shingles is above
    0.85 by construction, and distinct bases share almost no
    shingles."""
    rng = _rng(seed, "corpus")
    ranks = np.arange(1, VOCAB + 1, dtype=float)
    p = ranks**-ZIPF_S
    p /= p.sum()
    lexicon = np.array([_word(i) for i in range(VOCAB)], dtype=object)
    n_copies = int(n_docs * COPY_SHARE)
    n_base = n_docs - n_copies
    texts: list[str] = []
    for _ in range(n_base):
        w = int(rng.integers(WORDS[0], WORDS[1] + 1))
        texts.append(" ".join(lexicon[rng.choice(VOCAB, size=w, p=p)]))
    groups = {i: i for i in range(n_base)}
    exact: set[int] = set()
    for j in range(n_copies):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split(" ")
        doc_id = n_base + j
        if rng.random() < EXACT_SHARE:
            exact.add(doc_id)
        else:
            k = max(1, round(EDIT_SHARE * len(toks)))
            for pos in rng.choice(len(toks), size=k, replace=False):
                toks[pos] = lexicon[int(rng.integers(VOCAB // 2, VOCAB))]
        texts.append(" ".join(toks))
        groups[doc_id] = src
    # shuffle ids so copies are not clustered at the end of the id range
    perm = rng.permutation(n_docs)
    ids = perm.astype(np.int64)
    frame = pd.DataFrame({"doc_id": ids, "text": texts})
    remap = {old: int(ids[old]) for old in range(n_docs)}
    return Corpus(
        frame=frame.sort_values("doc_id", ignore_index=True),
        n_base=n_base,
        groups={remap[d]: remap[b] for d, b in groups.items()},
        exact_copies={remap[d] for d in exact},
    )


def _word(i: int) -> str:
    """Deterministic pronounceable token for lexicon slot ``i``."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    out = []
    i += 1
    while i:
        i, r = divmod(i, len(cons) * len(vows))
        out.append(cons[r // len(vows)] + vows[r % len(vows)])
    return "".join(out)


def planted_pairs(corpus: Corpus) -> set[tuple[int, int]]:
    """(id_a, id_b), id_a < id_b, for every copy and its base."""
    return {
        (min(d, b), max(d, b)) for d, b in corpus.groups.items() if d != b
    }


# -------------------------------------------------------------------- io


def write_parquet(frame: pd.DataFrame, path: str) -> str:
    """One Parquet file at ``path`` (created with its parent dirs)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(frame, preserve_index=False)
    pq.write_table(table, path, compression="snappy")
    return path
