"""Numpy-only subset of scipy used by column detection.

The reference calls ``scipy.ndimage.gaussian_filter1d(hist, sigma=1.5)``
and ``scipy.signal.find_peaks(smoothed, height=h, distance=4)``
(reference: app/pipeline/table_extractor.py:132-143).  scipy is not a
runtime dependency of this engine, so the exact subset is
reimplemented here: order-0 gaussian smoothing with mode='reflect'
and truncate=4.0, and peak finding with plateau-midpoint local maxima,
a height floor, and greedy highest-first distance pruning.

Ties in peak height are broken with a stable sort; scipy's quicksort
argsort may order exact ties differently, but smoothed histograms of
integer counts make exact ties measure-zero in practice.
"""

from __future__ import annotations

import numpy as np


def gaussian_smooth_1d(values: np.ndarray, sigma: float = 1.5) -> np.ndarray:
    """Order-0 1-D gaussian filter, mode='reflect', truncate=4.0
    (scipy-compatible).

    scipy ndimage 'reflect' == numpy pad 'symmetric':
    (d c b a | a b c d | d c b a).
    """
    x = np.asarray(values, dtype=np.float64)
    radius = int(4.0 * sigma + 0.5)
    coords = np.arange(-radius, radius + 1, dtype=np.float64)
    weights = np.exp(-0.5 * (coords / sigma) ** 2)
    weights /= weights.sum()
    padded = np.pad(x, radius, mode="symmetric")
    return np.convolve(padded, weights, mode="valid")


def local_maxima_plateau_mid(x: np.ndarray) -> np.ndarray:
    """Indices of local maxima; plateaus yield their midpoint (floor).

    Mirrors scipy.signal._peak_finding_utils._local_maxima_1d.
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    peaks = []
    i = 1
    i_max = n - 1
    while i < i_max:
        if x[i - 1] < x[i]:
            i_ahead = i + 1
            while i_ahead < i_max and x[i_ahead] == x[i]:
                i_ahead += 1
            if x[i_ahead] < x[i]:
                left_edge = i
                right_edge = i_ahead - 1
                peaks.append((left_edge + right_edge) // 2)
                i = i_ahead
        i += 1
    return np.asarray(peaks, dtype=np.int64)


def find_peaks_simple(x: np.ndarray, height: float, distance: int) -> np.ndarray:
    """find_peaks(height=, distance=) subset, sorted ascending."""
    x = np.asarray(x, dtype=np.float64)
    peaks = local_maxima_plateau_mid(x)
    if len(peaks) == 0:
        return peaks
    peaks = peaks[x[peaks] >= height]
    if len(peaks) == 0 or distance <= 1:
        return peaks
    # Greedy: highest peak first, remove neighbours closer than `distance`.
    priority_order = np.argsort(x[peaks], kind="stable")  # ascending
    keep_mask = np.ones(len(peaks), dtype=bool)
    dist = int(np.ceil(distance))
    for j in priority_order[::-1]:  # highest first
        if not keep_mask[j]:
            continue
        k = j - 1
        while k >= 0 and peaks[j] - peaks[k] < dist:
            keep_mask[k] = False
            k -= 1
        k = j + 1
        while k < len(peaks) and peaks[k] - peaks[j] < dist:
            keep_mask[k] = False
            k += 1
    return peaks[keep_mask]
