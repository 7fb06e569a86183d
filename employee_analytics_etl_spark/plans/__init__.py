"""Query plans: the HR pipeline and the named-query registry.

The registry modules add their queries to ``registry.QUERIES`` and
``registry.ORACLE`` through the ``@query`` decorator when imported.
``load_all()`` is the one place that lists them.
"""

from __future__ import annotations


def load_all():
    """Import every registry module and return ``(QUERIES, ORACLE)``.

    Idempotent: a second call finds the modules already imported."""
    from . import (  # noqa: F401 — imports register queries
        registry,
        registry_ext,
        registry_funcs,
        registry_more,
        registry_r5,
        registry_r6,
        registry_r7,
        registry_r8,
        registry_r9,
        registry_r10,
        registry_r11,
        registry_r12,
    )

    return registry.QUERIES, registry.ORACLE
