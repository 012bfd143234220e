"""Multimodal query registry — thematic shim (round 10).

The 3,278-line accretion module was regrouped by family (VERDICT r9
next #5, the relational-strata precedent from round 9): qcommon
(Arrow plumbing probe), qimage (standard codec roundtrips),
qraw (DNG/CR2/NEF/ARW), qaudio, qvideo, qscrub (EXIF/PII hygiene),
qpatch (tiles/ViT/augment). This shim keeps the `queries` import path
and the merged QUERIES/ORACLES dicts byte-stable for
``__spark_entry__`` and the plan-shape tests.
"""

from __future__ import annotations

from .qcommon import *  # noqa: F401,F403
from .qimage import *  # noqa: F401,F403
from .qraw import *  # noqa: F401,F403
from .qaudio import *  # noqa: F401,F403
from .qvideo import *  # noqa: F401,F403
from .qscrub import *  # noqa: F401,F403
from .qpatch import *  # noqa: F401,F403

from . import qaudio, qcommon, qimage, qpatch, qraw, qscrub, qvideo

QUERIES = {
    **qcommon.QUERIES, **qimage.QUERIES, **qraw.QUERIES,
    **qaudio.QUERIES, **qvideo.QUERIES, **qscrub.QUERIES,
    **qpatch.QUERIES,
}
ORACLES = {
    **qcommon.ORACLES, **qimage.ORACLES, **qraw.ORACLES,
    **qaudio.ORACLES, **qvideo.ORACLES, **qscrub.ORACLES,
    **qpatch.ORACLES,
}
