"""Seeded generator of French-style civil-state identities.

Everything here is a pure function of the seed.  Only the files written
by ``write_inputs`` reach the program; each workload's ground truth
(which referential person or which duplicate cluster a record came
from) is written to a separate ``truth`` file that only the benchmark's
checks read.

Accents are limited to letters whose NFKD form is one ASCII letter
(``é è ê ë à â ç ô î ï ù û ü``), so the documented ``normalize``
(lower, accent-fold, non-alphanumeric to space, trim) folds them
unambiguously.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from textnorm import normalize

# Input sizes, per workload.  README.md gives the reasoning.
SIZES = {
    "live_match": {"ref": 200_000, "batches": 600, "batch": 20},
    "dedup_resolve": {"entities": 1_500},
}

# Duplicate-cluster sizes 1..5 and their shares of the entities.
CLUSTER_SIZES = np.array([1, 2, 3, 4, 5])
CLUSTER_SHARES = np.array([0.50, 0.25, 0.13, 0.07, 0.05])

# Share of live_match queries drawn from the referential (the rest are
# people the referential does not hold).
LIVE_KNOWN = 0.7

# Per-field noise rates applied to a noisy copy of an identity.
NOISE = {
    "typo_last": 0.12,
    "typo_first": 0.20,
    "upper": 0.30,
    "strip_accents": 0.20,
    "date": 0.08,
    "place": 0.05,
    "null": 0.03,
}

_COMMON_LAST = """Martin Bernard Thomas Petit Robert Richard Durand Dubois Moreau Laurent
Simon Michel Lefèvre Leroy Roux David Bertrand Morel Fournier Girard Bonnet Dupont
Lambert Fontaine Rousseau Vincent Müller Lefèbvre Faure André Mercier Blanc Guérin
Boyer Garnier Chevalier François Legrand Gauthier Garcia Perrin Robin Clément Morin
Nicolas Henry Roussel Mathieu Gautier Masson Marchand Duval Denis Dumont Marie Lemaire
Noël Meyer Dufour Meunier Brun Blanchard Giraud Joly Rivière Lucas Brunet Gaillard
Barbier Arnaud Martinez Gérard Roche Renard Schmitt Roy Leroux Colin Vidal Caron
Picard Roger Fabre Aubert Lemoine Renaud Dumas Lacroix Olivier Philippe Bourgeois
Pierre Benoît Rey Leclerc Payet Rolland Leclercq Guillaume Lecomte Lopez Jean Dupuy
Guillot Hubert Berger Carpentier Sanchez Dupuis Moulin Louis Deschamps Huet Vasseur
Perez Boucher Fleury Royer Klein Jacquet Adam Paris Poirier Marty Aubry Guyot Carré
Charles Renault Charpentier Ménard Maillard Baron Bertin Bailly Hervé Schneider
Fernandez Le-Gall Collet Léger Bouvier Julien Prévost Millet Perrot Daniel Le-Roux
Cousin Germain Breton Besson Langlois Rémy Le-Goff Pelletier Lévêque Perrier Leblanc
Barré Lebrun Marchal Weber Mallet Hamon Boulanger Jacob Monnier Michaud Rodriguez
Guichard Gillet Étienne Grondin Poulain Tessier Chevallier Collin Chauvin Da-Silva
Bouchet Gay Lemaître Bénard Maréchal Humbert Reynaud Antoine Hoarau Perret Barthélémy
Cordier Pichon Lejeune Gilbert Lamy Delaunay Pasquier Carlier Laporte""".split()

_SYL_A = """Ber Mar Dur Lef Gir Rou Fou Mor Bou Gau Mer Per Char Lam Col Fab Riv Vil Ché
Dela Mal Ses Tar Val Bel Cor Dan Gal Hér Lan Mon Pon Sau Tes Ver Bré Cam Dor Fér Lag
Mat Nav Pél Rab Sal Tou Vau Bar Cou Gri Jou Lou Mau Pou Rog Sav Tré""".split()
_SYL_B = """and tin ier eau ard ot el in on et ault ès ière aud oux ac y ois ange elle
ille eux ais ant ent ié ey iot us as""".split()
_SYL_C = ["", "", "", "", "e", "et", "ot", "ard", "on", "ier"]

_FIRST_M = """Jean Pierre Michel André Philippe René Louis Alain Jacques Bernard Marcel
Daniel Roger Robert Paul Claude Christian Henri Georges Nicolas François Patrick
Gérard Christophe Joseph Julien Maurice Laurent Frédéric Raymond Thierry Stéphane
Éric Guy David Pascal Sébastien Olivier Lucien Roland Jérôme Gilbert Serge Thomas
Yves Marc Vincent Denis Antoine Maxime Léon Guillaume Bruno Fernand Émile Clément
Jean-Pierre Jean-Claude Jean-Luc Jean-François Jean-Marc Noël Benoît Hervé Loïc Gaël
Jérémy Mathéo Théo Raphaël Baptiste Hugo Lucas Mathis Nathan Enzo Léo Timothée Aurélien""".split()
_FIRST_F = """Marie Jeanne Françoise Monique Catherine Nathalie Isabelle Jacqueline Anne
Sylvie Martine Madeleine Nicole Suzanne Hélène Christine Marguerite Denise Louise
Christiane Yvonne Valérie Sophie Sandrine Stéphanie Germaine Céline Véronique Chantal
Julie Simone Aurélie Émilie Camille Léa Manon Chloé Inès Zoé Océane Clémence Mélanie
Laëtitia Anaïs Gaëlle Noémie Héloïse Joséphine Thérèse Geneviève Cécile Brigitte Agnès
Marie-Claire Marie-Thérèse Anne-Marie Marie-Hélène Marie-France Danièle Josiane Renée
Pénélope Béatrice Maëlle Justine Pauline Élodie Lucie Mathilde Juliette Ophélie""".split()

_FOLD = str.maketrans("éèêëàâçôîïùûüÉÈÊËÀÂÇÔÎÏÙÛÜ", "eeeeaacoiiuuuEEEEAACOIIUUU")
_TYPO_CHARS = "abcdefghijklmnopqrstuvwxyzéèç"


def _surname_vocab() -> np.ndarray:
    synth = sorted({a + b + c for a in _SYL_A for b in _SYL_B for c in _SYL_C})
    rng = np.random.default_rng(0)  # vocabulary order is fixed, not seeded
    rng.shuffle(synth)
    common = list(dict.fromkeys(_COMMON_LAST))
    seen = {normalize(s) for s in common}
    vocab = common + [s for s in synth if normalize(s) not in seen]
    # '-' stands for a compound surname's space in the list above
    return np.array([s.replace("Le-", "Le ") for s in vocab], dtype=object)


SURNAMES = _surname_vocab()
FIRST_M = np.array(list(dict.fromkeys(_FIRST_M)), dtype=object)
FIRST_F = np.array(list(dict.fromkeys(_FIRST_F)), dtype=object)
# Zipf-skewed surname frequencies: rank r has weight 1 / (r + 20)^1.1,
# so the commonest surname holds about 1% of identities
_ZIPF = 1.0 / (np.arange(1, len(SURNAMES) + 1) + 20) ** 1.1
SURNAME_P = _ZIPF / _ZIPF.sum()
PLACES = np.array(
    [f"{d:02d}{c:03d}" for d in range(1, 96) if d != 20 for c in range(1, 41)]
    + [f"2A{c:03d}" for c in range(1, 41)] + [f"2B{c:03d}" for c in range(1, 41)],
    dtype=object,
)
_DAY0 = np.datetime64("1920-01-01")
_NDAYS = int((np.datetime64("2005-12-31") - _DAY0).astype(int))


def identities(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """``n`` clean identities (column -> array of str)."""
    sex = np.where(rng.random(n) < 0.5, "M", "F").astype(object)
    fm = FIRST_M[rng.integers(0, len(FIRST_M), n)]
    ff = FIRST_F[rng.integers(0, len(FIRST_F), n)]
    days = _DAY0 + rng.integers(0, _NDAYS, n).astype("timedelta64[D]")
    return {
        "last_name": SURNAMES[rng.choice(len(SURNAMES), n, p=SURNAME_P)],
        "first_name": np.where(sex == "M", fm, ff),
        "sex": sex,
        "birth_date": np.array([x.replace("-", "") for x in np.datetime_as_string(days).tolist()], dtype=object),
        "birth_place": PLACES[rng.integers(0, len(PLACES), n)],
    }


def _typo(rng: np.random.Generator, s: str) -> str:
    if not s:
        return s
    i = int(rng.integers(0, len(s)))
    kind = int(rng.integers(0, 4))
    c = _TYPO_CHARS[int(rng.integers(0, len(_TYPO_CHARS)))]
    if kind == 0:  # substitution
        return s[:i] + c + s[i + 1:]
    if kind == 1 and len(s) > 2:  # deletion
        return s[:i] + s[i + 1:]
    if kind == 2 and i + 1 < len(s):  # transposition
        return s[:i] + s[i + 1] + s[i] + s[i + 2:]
    return s[:i] + c + s[i:]  # insertion


def _date_noise(rng: np.random.Generator, d: str) -> str:
    y, m, dd = d[:4], d[4:6], d[6:]
    kind = int(rng.integers(0, 3))
    if kind == 0 and int(dd) <= 12 and dd != m:  # day/month swap
        return y + dd + m
    if kind == 1:  # one digit of the year
        return y[:3] + str((int(y[3]) + 1) % 10) + m + dd
    return y + m + f"{(int(dd) % 28) + 1:02d}"


def noisy(rng: np.random.Generator, rec: dict[str, str], scale: float = 1.0) -> dict[str, str]:
    """A noisy copy of one identity: typos, case, accents, dates, ``""`` nulls."""
    r = dict(rec)
    p = {k: v * scale for k, v in NOISE.items()}
    for col, key in (("last_name", "typo_last"), ("first_name", "typo_first")):
        if rng.random() < p[key]:
            r[col] = _typo(rng, r[col])
        if rng.random() < p["upper"]:
            r[col] = r[col].upper()
        if rng.random() < p["strip_accents"]:
            r[col] = r[col].translate(_FOLD)
    if rng.random() < p["date"]:
        r["birth_date"] = _date_noise(rng, r["birth_date"])
    if rng.random() < p["place"]:
        r["birth_place"] = PLACES[int(rng.integers(0, len(PLACES)))]
    for col in ("first_name", "sex", "birth_place", "last_name"):
        if rng.random() < p["null"] * (0.5 if col == "last_name" else 1.0):
            r[col] = ""
    return r


COLS = ("last_name", "first_name", "sex", "birth_date", "birth_place")


def _rows(ids: dict[str, np.ndarray]) -> list[dict[str, str]]:
    return [dict(zip(COLS, vals)) for vals in zip(*(ids[c].tolist() for c in COLS))]


def _write_parquet(path: str, table: pa.Table) -> None:
    """One file with one row group."""
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _live_match(rng, d):
    s = SIZES["live_match"]
    ref = identities(rng, s["ref"])
    n_ref = s["ref"]
    # a prepared referential: its own column names (no clash with the
    # request's) and the normalised match keys stored alongside
    _write_parquet(os.path.join(d, "ref.parquet"), pa.table({
        "person_id": np.arange(1, n_ref + 1, dtype=np.int64),
        "ref_last_name": ref["last_name"].tolist(),
        "ref_first_name": ref["first_name"].tolist(),
        "ref_sex": ref["sex"].tolist(),
        "ref_birth": ref["birth_date"].tolist(),
        "ref_place": ref["birth_place"].tolist(),
        "ref_last": [normalize(x) for x in ref["last_name"].tolist()],
        "ref_first": [normalize(x) for x in ref["first_name"].tolist()],
    }))
    words = sorted({normalize(x) for x in np.concatenate([FIRST_M, FIRST_F]).tolist()})
    _write_parquet(os.path.join(d, "firstnames.parquet"), pa.table({"first": words}))
    n = s["batches"] * s["batch"]
    known = rng.random(n) < LIVE_KNOWN
    pick = rng.integers(0, n_ref, n)
    fresh = _rows(identities(rng, n))
    ref_rows = _rows(ref)
    rows, truth = [], []
    for i in range(n):
        base = ref_rows[pick[i]] if known[i] else fresh[i]
        rows.append(noisy(rng, base))
        truth.append(int(pick[i]) + 1 if known[i] else -1)
    _write_parquet(os.path.join(d, "requests.parquet"), pa.table({
        "qid": np.arange(n, dtype=np.int64),
        **{c: [r[c] for r in rows] for c in COLS},
    }))
    _write_parquet(os.path.join(d, "truth.parquet"), pa.table({
        "qid": np.arange(n, dtype=np.int64), "person_id": np.array(truth, dtype=np.int64),
    }))


def _dedup_resolve(rng, d):
    s = SIZES["dedup_resolve"]
    n_ent = s["entities"]
    # fixed cluster-size counts, so every seed has the same number of records
    sizes = rng.permutation(np.repeat(CLUSTER_SIZES, np.round(CLUSTER_SHARES * n_ent).astype(int)))
    n_ent = len(sizes)
    base = _rows(identities(rng, n_ent))
    rows, cluster = [], []
    for e in range(n_ent):
        rows.append(base[e])
        cluster.append(e)
        for _ in range(int(sizes[e]) - 1):
            rows.append(noisy(rng, base[e], scale=0.6))
            cluster.append(e)
    n = len(rows)
    rec_id = rng.permutation(n).astype(np.int64) + 1
    order = np.argsort(rec_id)
    # the program reads "" as a real empty string here; dedup inputs
    # carry nulls as parquet nulls, like the repo's testdata
    _write_parquet(os.path.join(d, "records.parquet"), pa.table({
        "rec_id": rec_id[order],
        **{c: [rows[i][c] or None for i in order] for c in COLS},
    }))
    _write_parquet(os.path.join(d, "truth.parquet"), pa.table({
        "rec_id": rec_id[order], "cluster": np.array(cluster, dtype=np.int64)[order],
    }))


_MAKERS = {"live_match": _live_match, "dedup_resolve": _dedup_resolve}
# the random stream of each workload; fixed, so that adding or removing a
# workload never shifts another's inputs
_STREAMS = {"dedup_resolve": 1, "live_match": 2}


def write_inputs(workload: str, seed: int, root: str) -> str:
    """Generate (once) the inputs of ``workload`` for ``seed`` under
    ``root`` and return their directory.  A finished directory carries a
    ``DONE`` marker, so later runs with the same seed reuse it."""
    d = os.path.join(root, workload, f"seed-{seed}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    tmp = d + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng([seed, _STREAMS[workload]])
    _MAKERS[workload](rng, tmp)
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        fh.write("ok\n")
    if os.path.exists(d):
        import shutil

        shutil.rmtree(d)
    os.replace(tmp, d)
    return d


if __name__ == "__main__":
    import sys

    print(write_inputs(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
