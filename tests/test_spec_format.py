"""The registry format is pinned: ``template_json`` is what registries
store and executors deserialize, so compiling or inducing the same
template must keep producing the same bytes. The digests below are
sha256 of ``spec_to_json`` output; a change that moves one changes
every stored registry row and must say so."""

import hashlib
import sys
from pathlib import Path

import pytest

from weakscraper_spark.enginelib.induce import induce_template_robust
from weakscraper_spark.enginelib.spec import compile_template, spec_to_json
from weakscraper_spark.sources.synth import SITE_TEMPLATES, rows_for_index

sys.path.insert(0, str(Path(__file__).resolve().parent / "fixtures"))
from corpus import FIXTURES  # noqa: E402

SITE_DIGESTS = {
    "t_article": "527772c657475cdda1d05a64b31979a95d1ce4443d8101d91ef6757ec6abeca9",
    "t_forum": "e4de3883eb19474b48f515ed56443edd2597fe63df48ceb7fdff8f1f9de21aad",
    "t_product": "5a6a40f535c7e19ce0f8d663a70f07e542946bd35d4f30e2b2991722a41be0f9",
}

# every parity-ring template (each directive the compiler knows) as one
# digest over "fixture_id<TAB>spec_json<LF>" lines in FIXTURES order
FIXTURES_DIGEST = \
    "30c3a12768397233a6bacaf21ca2ae4978333d5f4f9ab5d043c5749afe08db59"

# induce_template_robust over the first 5 pages of a host in the synth
# corpus (seed 42, 20 hosts, head share 0.3, indices 0..299):
# host00 induces a wp-list, host02 a nugget
INDUCED_DIGESTS = {
    "host00.example.com": "5016e79e49e05b5206c0006c46478ec881da96fade6eb71246cf5f4eee84f445",
    "host02.example.com": "27545bf9472668da28137210716d7ec75fc1592da119c841403d2d7a1403b7ab",
}


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def test_site_templates_compile_to_pinned_json():
    got = {tid: _sha(spec_to_json(compile_template(html)))
           for tid, html in SITE_TEMPLATES.items()}
    assert got == SITE_DIGESTS


def test_fixture_templates_compile_to_pinned_json():
    h = hashlib.sha256()
    for fx in FIXTURES:
        spec_json = spec_to_json(compile_template(fx["template"]))
        h.update(f"{fx['fixture_id']}\t{spec_json}\n".encode("utf-8"))
    assert h.hexdigest() == FIXTURES_DIGEST


@pytest.mark.parametrize("host", sorted(INDUCED_DIGESTS))
def test_induced_template_is_pinned_json(host):
    pages = [bytes(r[2]).decode("utf-8")
             for i in range(300) for r in rows_for_index(i, 20, 0.3, 42)
             if r[0].split("/")[2] == host][:5]
    spec = induce_template_robust(pages)
    assert _sha(spec_to_json(spec)) == INDUCED_DIGESTS[host]
