"""Ensemble LDA — stable topics via CBDBSCAN over many LDA runs.

Reference: ``gensim.models.ensemblelda.EnsembleLda`` (Brigl's ensemble
method): train ``num_models`` LDA models, stack their topic-term rows
(``ttda``), compute the ASYMMETRIC masked-cosine distance between every
topic pair (_calculate_asymmetric_distance_matrix_chunk,
ensemblelda.py:451-519: mask = the source topic's top terms by
``mass_masking`` 95% cumulative mass or ``rank_masking`` top 11%; the
mask is forced onto the other topic; pairs whose masked mass is ≤ 0.05
short-circuit to distance 1), cluster with CBDBSCAN
(ensemblelda.py:1240-1371: DBSCAN-ordered by min-distance, a core needs
``min_samples`` neighbors, a child core starts a NEW cluster when < 25%
of its parent's neighbors are close — the checkback that gives the C),
validate clusters needing ``min_cores`` isolated cores
(ensemblelda.py:277-305), and average each valid cluster's core topics
into a stable topic (_generate_stable_topics, ensemblelda.py:1081-1143).
The classic LDA representation sets sstats so that ``get_topics()``
returns the stable topics exactly (generate_gensim_representation,
ensemblelda.py:798-884).

Spark shape: each member model is a full distributed LDA fit
(operators/lda.py — the expensive part); the ttda is num_models·K rows
(model-sized), so the distance matrix and CBDBSCAN run on the driver, in
one ``asymmetric_distance_chunk`` call over all rows — the reference's
single-process path (its multiprocessing workers split the same kernel by
row chunks, ensemblelda.py:521-594).

Determinism: member models use seeds ``seed + m`` (the reference draws
random states from one sequential RNG); our LDA's per-(doc, update)
seeding makes every member bit-stable under any partitioning.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

# ensemblelda.py:115-117
_COSINE_DISTANCE_CALCULATION_THRESHOLD = 0.05


def mass_masking(a: np.ndarray, threshold: float | None = None) -> np.ndarray:
    """Binary mask of the smallest term set covering ``threshold`` mass
    (ensemblelda.py:258-266)."""
    if threshold is None:
        threshold = 0.95
    sorted_a = np.sort(a)[::-1]
    largest_mass = sorted_a.cumsum() < threshold
    smallest_valid = sorted_a[largest_mass][-1]
    return a >= smallest_valid


def rank_masking(a: np.ndarray, threshold: float | None = None) -> np.ndarray:
    """Binary mask of the top ``threshold`` fraction of terms
    (ensemblelda.py:269-274)."""
    if threshold is None:
        threshold = 0.11
    return a > np.sort(a)[::-1][int(len(a) * threshold)]


def _cosine_distance(u: np.ndarray, v: np.ndarray) -> float:
    """scipy.spatial.distance.cosine replica: 1 − u·v/(‖u‖‖v‖)."""
    nu, nv = np.linalg.norm(u), np.linalg.norm(v)
    if nu == 0 or nv == 0:
        return 1.0
    return float(1.0 - (u @ v) / (nu * nv))


def asymmetric_distance_chunk(ttda1: np.ndarray, ttda2: np.ndarray,
                              start_index: int, masking_method=mass_masking,
                              masking_threshold: float | None = None
                              ) -> np.ndarray:
    """Exact port of the reference chunk kernel (ensemblelda.py:451-519)."""
    distances = np.empty((len(ttda1), len(ttda2)))
    if len(ttda1) == 0 or len(ttda2) == 0:
        return distances
    for i, ttd1 in enumerate(ttda1):
        mask = masking_method(ttd1, masking_threshold)
        ttd1_masked = ttd1[mask]
        for j, ttd2 in enumerate(ttda2):
            if i + start_index == j:
                distances[i][j] = 0
                continue
            ttd2_masked = ttd2[mask]
            if ttd2_masked.sum() <= _COSINE_DISTANCE_CALCULATION_THRESHOLD:
                distances[i][j] = 1
            else:
                distances[i][j] = _cosine_distance(ttd1_masked, ttd2_masked)
    return distances


@dataclass
class Topic:
    is_core: bool = False
    neighboring_labels: set = field(default_factory=set)
    neighboring_topic_indices: set = field(default_factory=set)
    label: int | None = None
    num_neighboring_labels: int = 0
    valid_neighboring_labels: set = field(default_factory=set)


class CBDBSCAN:
    """Checkback-DBSCAN (ensemblelda.py:1240-1371), exact port."""

    def __init__(self, eps: float, min_samples: int):
        self.eps = eps
        self.min_samples = min_samples
        self.next_label = 0
        self.results: list | None = None

    def fit(self, amatrix: np.ndarray) -> None:
        topics = [Topic() for _ in range(len(amatrix))]
        am = amatrix.copy()
        np.fill_diagonal(am, 1)

        order = [idx for _, idx in sorted(
            ((d, i) for i, d in enumerate(am.min(axis=1))),
            key=lambda x: x[0])]

        def scan_topic(topic_index, current_label=None,
                       parent_neighbors=None):
            neighbors_sorted = sorted(
                ((d, i) for i, d in enumerate(am[topic_index])),
                key=lambda x: x[0])
            neighbor_idx = [i for d, i in neighbors_sorted if d < self.eps]

            if len(neighbor_idx) >= self.min_samples:
                topics[topic_index].is_core = True
                if current_label is None:
                    current_label = self.next_label
                    self.next_label += 1
                else:
                    # checkback: < 25% of the parent's neighborhood close
                    # by the asymmetric return distances → new cluster
                    close = am[topic_index][parent_neighbors] < self.eps
                    if close.mean() < 0.25:
                        current_label = self.next_label
                        self.next_label += 1
                topics[topic_index].label = current_label
                for ni in neighbor_idx:
                    if topics[ni].label is None:
                        order.remove(ni)
                        scan_topic(ni, current_label,
                                   neighbor_idx + [topic_index])
                    topics[ni].neighboring_topic_indices.add(topic_index)
                    topics[ni].neighboring_labels.add(current_label)
            else:
                topics[topic_index].label = \
                    -1 if current_label is None else current_label

        while order:
            scan_topic(order.pop(0))
        self.results = topics


def validate_clusters_and_stable_topics(ttda: np.ndarray, topics: list,
                                        min_cores: int) -> np.ndarray:
    """_group_by_labels → _aggregate_topics → _validate_clusters →
    stable-topic averaging (ensemblelda.py:166-305, 1081-1143)."""
    grouped: dict = {}
    for t in topics:
        if t.is_core:
            t.num_neighboring_labels = len(t.neighboring_labels)
            grouped.setdefault(t.label, []).append(t)

    clusters = []
    for label, members in grouped.items():
        neighboring = [t.neighboring_labels for t in members
                       if len(t.neighboring_labels) > 0]
        clusters.append({
            "max_num_neighboring_labels": max(
                (t.num_neighboring_labels for t in members), default=0),
            "neighboring_labels": neighboring,
            "label": label,
            "num_cores": sum(1 for t in members if t.is_core),
            "is_valid": None,
        })

    def sort_key(c):
        return (c["max_num_neighboring_labels"], c["num_cores"], c["label"])

    def remove_label(label):
        for c in clusters:
            for s in c["neighboring_labels"]:
                s.discard(label)

    clusters.sort(key=sort_key)
    for c in clusters:
        if c["num_cores"] < min_cores:
            c["is_valid"] = False
            remove_label(c["label"])
    for c in clusters:
        if c["is_valid"] is None:
            isolated = sum(1 for s in c["neighboring_labels"]
                           if s == {c["label"]})
            c["is_valid"] = isolated >= min_cores
            if not c["is_valid"]:
                remove_label(c["label"])

    valid_labels = {c["label"] for c in clusters if c["is_valid"]}
    for t in topics:
        t.valid_neighboring_labels = {
            lb for lb in t.neighboring_labels if lb in valid_labels}

    core_mask = [t.is_core and t.valid_neighboring_labels == {t.label}
                 for t in topics]
    rows = ttda[np.asarray(core_mask, dtype=bool)]
    labels = np.array([t.label for t in topics])[
        np.asarray(core_mask, dtype=bool)]
    stable = []
    for label in np.unique(labels):
        stable.append(rows[labels == label].mean(axis=0))
    return np.array(stable) if stable else np.empty((0, ttda.shape[1]))


class EnsembleLdaModel:
    def __init__(self, ttda: np.ndarray, stable_topics: np.ndarray,
                 num_models: int, sstats_sum: float, eta_scalar: float,
                 fit_kwargs: dict):
        self.ttda = ttda
        self.stable_topics = stable_topics
        self.num_models = num_models
        self.sstats_sum = sstats_sum
        self.eta_scalar = eta_scalar
        self.fit_kwargs = fit_kwargs

    def get_topics(self) -> np.ndarray:
        return self.stable_topics

    def classic_representation(self):
        """LdaModel whose get_topics() equals the stable topics exactly
        (generate_gensim_representation, ensemblelda.py:798-884)."""
        from gensim_spark.operators.lda import LdaModel

        k = len(self.stable_topics)
        if k == 0:
            return None
        num_terms = self.stable_topics.shape[1]
        model = LdaModel(num_topics=k, num_terms=num_terms,
                         eta=self.eta_scalar,
                         **{kk: v for kk, v in self.fit_kwargs.items()
                            if kk in ("iterations", "gamma_threshold",
                                      "minimum_probability",
                                      "random_seed")})
        eta_sum = self.eta_scalar * num_terms
        norm = self.sstats_sum / k + eta_sum
        model.sstats = self.stable_topics * norm - model.eta
        from gensim_spark.functions.special import dirichlet_expectation

        model.exp_elogbeta = np.exp(dirichlet_expectation(
            model.get_lambda()))
        return model


def ensemble_lda_fit(postings: DataFrame, num_topics: int = 10,
                     num_models: int = 4, num_terms: int | None = None,
                     passes: int = 1, iterations: int = 50,
                     random_seed: int = 13, eps: float = 0.1,
                     min_samples: int | None = None,
                     min_cores: int | None = None,
                     masking_method=mass_masking,
                     masking_threshold: float | None = None,
                     **lda_kwargs) -> EnsembleLdaModel:
    """Train ``num_models`` distributed LDA fits (seeds seed+m), then the
    reference's cluster-and-average pipeline with defaults
    ``min_samples = num_models/2``, ``min_cores = min(3, num_models/4+1)``
    (ensemblelda.py:1058-1107)."""
    from pyspark.sql import functions as F

    from gensim_spark.operators import lda as LD
    from gensim_spark.operators.lda import infer_dim

    if num_terms is None:
        num_terms = infer_dim(postings, "term_id")
    ttda_parts = []
    eta_scalar = 1.0 / num_topics  # gensim 'symmetric' default
    for m in range(num_models):
        model = LD.lda_fit(postings, num_topics=num_topics,
                           num_terms=num_terms, passes=passes,
                           iterations=iterations,
                           random_seed=random_seed + m, **lda_kwargs)
        ttda_parts.append(model.get_topics())
    ttda = np.vstack(ttda_parts)

    amatrix = asymmetric_distance_chunk(ttda, ttda, 0, masking_method,
                                        masking_threshold)

    if min_samples is None:
        min_samples = int(num_models / 2)
    if min_cores is None:
        min_cores = min(3, max(1, int(num_models / 4 + 1)))
    elif min_cores == 0:
        min_cores = 1

    scan = CBDBSCAN(eps=eps, min_samples=min_samples)
    scan.fit(amatrix)
    stable = validate_clusters_and_stable_topics(ttda, scan.results,
                                                 min_cores)
    tf_col = "tf" if "tf" in postings.columns else "weight"
    sstats_sum = float(postings.agg(F.sum(tf_col).alias("s"))
                       .collect()[0]["s"])
    return EnsembleLdaModel(ttda, stable, num_models, sstats_sum,
                            eta_scalar,
                            dict(iterations=iterations,
                                 random_seed=random_seed, passes=passes))
