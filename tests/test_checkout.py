"""The suite imports the package of the checkout it runs in."""

from __future__ import annotations

from pathlib import Path

import automated_agro_climatic_data_warehouse_spark as pkg


def test_package_is_this_checkouts():
    assert Path(pkg.__file__).resolve().is_relative_to(
        Path(__file__).resolve().parents[1]
    )
