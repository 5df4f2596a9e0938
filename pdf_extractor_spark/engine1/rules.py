"""Engine-1 mapping rules (reference pdf_processor_core.py:50-75).

The 13 rules the kernel matches against page lines on substring
containment; descriptions/columns/source flags drive the A2-A5 page
rules.
"""

from __future__ import annotations

# (folha_type, code, description, excel_col, source, fallback_to_valor),
# in the reference's order
E1_RULES = [
    ("FOLHA NORMAL", "01003601", "PREMIO PROD. MENSAL", "X", "indice", True),
    ("FOLHA NORMAL", "01003602", "PREMIO PROD. MENSAL", "X", "indice", True),
    ("FOLHA NORMAL", "01017101", "PREMIO PRO. (R)", "X", "indice", True),
    ("FOLHA NORMAL", "01007301", "HORAS EXT.100%-180", "Y", "indice", False),
    ("FOLHA NORMAL", "01007302", "HORAS EXT.100%-180", "Y", "indice", False),
    ("FOLHA NORMAL", "01009001", "ADIC.NOT.25%-180", "AE", "indice", False),
    ("FOLHA NORMAL", "01022001", "ADICIONAL NOTURNO 25% (R)", "AE", "indice",
     False),
    ("FOLHA NORMAL", "01003501", "HORAS EXT.75%-180", "AA", "indice", False),
    ("FOLHA NORMAL", "01007501", "HORAS EXT.75%", "AA", "indice", False),
    ("FOLHA NORMAL", "02007501", "DIFER.PROV. HORAS EXTRAS 75%", "AC", "indice",
     False),
    ("FOLHA NORMAL", "09090301", "SALARIO CONTRIB INSS", "B", "valor", False),
    ("13 SALARIO", "09090301", "SALARIO CONTRIB INSS", "B", "valor", False),
    ("13 SALARIO", "09090101", "REMUNERACAO BRUTA", "B", "valor", False),
]

# sum-when-together pairs per column (reference :72-75)
SUMABLE = {"X": ["01003601", "01003602"], "Y": ["01007301", "01007302"]}
