"""Seeded end-to-end benchmark for the KG-construction engine (see NOTES.md)."""
