"""Seeded landing-CSV generator plus a pure-Python model of the Silver
tables the three ETL pipelines must produce from those files.

Files follow the fixture contracts (FIXTURES.md): ``;`` delimiter, a
header row, an optional UTF-8 BOM, quoted escaped-JSON fields and mixed
date formats. 5% of rows are invalid (bad RUT check digit, unknown
``carrier_bp``, malformed JSON, empty plate) and 20% of keys repeat keys
loaded by earlier files, so the upsert and historization paths both run.

Keys are unique within one file: the engine's in-file last-wins rule is
covered by the pytest suite, and keeping files duplicate-free lets the
model state every child table exactly.

:meth:`Landing.expected` returns, per Silver table, the sorted canonical
rows the engine must hold; :func:`engine_rows` builds the same rows from
a catalog, resolving surrogate ids back to natural keys.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import random

STATUSES = ["Aprobada", "Rechazada", "No Aplica", " aprobada "]
REVISION_STATUS_COLS = [
    "emissions_crt_status", "identification_status", "visual_status",
    "lights_status", "alignment_status", "brakes_status",
    "clearances_status", "emissions_status", "opacity_status",
    "steering_angle_status", "noise_status", "suspension_status",
]
EMPRESA_COLS = ["carrier_bp", "carrier_name", "carrier_tin", "carrier_type"]
CONDUCTOR_COLS = [
    "driver_name", "national_id", "birth_date", "phone_number", "email",
    "carrier_bp", "driver_role", "hoja_de_vida_data",
    "licencia_frontal_data", "licencia_reverso_data",
]
VEHICULO_COLS = [
    "registration_plate", "carrier_bp", "year_of_manufacture", "gps",
    "engine_number", "chassis_number", "vin", "odometer_km", "cortina",
    "instalacion_cortina", "vehicle_type", "vehicle_designation", "parrilla",
    "peso", "largo", "ancho", "alto", "mop_clasification", "nominal_pallet",
    "vehicle_make", "vehicle_model", "fecha_revision_tecnica",
    "fecha_vencimiento_revision_tecnica", *REVISION_STATUS_COLS,
    "permiso_circulacion_data", "certificado_anotaciones_vigentes_data",
    "soap_data",
]
MALFORMED = '{"broken": '
TRUE_FLAGS = {"true", "verdadero", "si"}


def rut_dv(body: int) -> str:
    """Mod-11 check digit of a RUT body."""
    total, mult = 0, 2
    for ch in reversed(str(body)):
        total += int(ch) * mult
        mult = 2 if mult == 7 else mult + 1
    r = 11 - total % 11
    return "0" if r == 11 else "K" if r == 10 else str(r)


def _date_text(rng: random.Random, y: int, m: int, d: int) -> str:
    """One date in one of the four accepted landing formats."""
    form = rng.randrange(4)
    if form == 0:
        return f"{y:04d}-{m:02d}-{d:02d}"
    if form == 1:
        return f"{d:02d}-{m:02d}-{y:04d}"
    if form == 2:
        return f"{d:02d}/{m:02d}/{y:04d}"
    return f"{d:02d}-{m:02d}-{y:04d}, {rng.randrange(24):02d}:21"


def _rand_date(rng: random.Random, y0: int, y1: int) -> tuple[str, str]:
    """(landing text, ISO value) for a random date."""
    y, m, d = rng.randint(y0, y1), rng.randint(1, 12), rng.randint(1, 28)
    return _date_text(rng, y, m, d), f"{y:04d}-{m:02d}-{d:02d}"


def _spaced(rng: random.Random, words: list[str]) -> tuple[str, str]:
    """(landing text with irregular spacing, normalized value)."""
    sep = [" ", "  ", " \t "][rng.randrange(3)]
    return " " + sep.join(words) + " ", " ".join(words)


def _int_text(v) -> int | None:
    """JS ``parseInt(s) || null`` on generated texts (leading digits)."""
    digits = ""
    for ch in v.strip():
        if not ch.isdigit():
            break
        digits += ch
    return (int(digits) or None) if digits else None


class Landing:
    """Writes landing files batch by batch and tracks the expected
    Silver state after each file is ingested."""

    def __init__(self, out_dir: str, seed: int):
        self.dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.rng = random.Random(seed)
        self.seq = 0
        self.next_key = 1000
        # Expected state, keyed by natural key.
        self.empresa: dict[str, tuple] = {}  # bp -> (name, rut, type)
        self.history: list[list] = []  # [bp, name, rut, type, is_current]
        self.conductor: dict[str, tuple] = {}
        self.vehiculo: dict[str, tuple] = {}
        self.vehiculo_bp: dict[str, str] = {}  # frozen carrier on update
        self.children: dict[str, list[tuple]] = {}
        self.dims: dict[str, set] = {}
        self.quarantine: dict[str, list[tuple]] = {}
        self.manifest: list[tuple] = []
        # (table, key column, keys) of entities the last file loaded.
        self.last_keys: tuple[str, str, list[str]] | None = None

    # -- helpers -------------------------------------------------------------

    def _fresh(self) -> int:
        self.next_key += 1 + self.rng.randrange(3)
        return self.next_key

    def _plan(self, n: int) -> list[tuple[str | None, bool]]:
        """Per row: (defect, repeat). Exactly 5% of rows (at least one)
        carry one defect and 20% of the others repeat an earlier key, so
        every file of one size has the same composition and only the
        contents vary with the seed."""
        rng = self.rng
        rows = list(range(n))
        bad = set(rng.sample(rows, max(1, round(n * 0.05))))
        kinds = ["rut", "carrier", "json"]
        first = rng.randrange(3)
        defects = {i: kinds[(first + j) % 3] for j, i in enumerate(sorted(bad))}
        good = [i for i in rows if i not in bad]
        repeat = set(rng.sample(good, round(len(good) * 0.2)))
        return [(defects.get(i), i in repeat) for i in rows]

    def _repeat(self, repeat: bool, existing: list, used: set):
        """An earlier file's key not yet used in this file, if wanted."""
        if repeat and existing:
            for _ in range(5):
                k = self.rng.choice(existing)
                if k not in used:
                    return k
        return None

    def _key(self, repeat: bool, existing: list, fresh_fn, used: set):
        k = self._repeat(repeat, existing, used)
        if k is None:
            k = fresh_fn()
        used.add(k)
        return k

    def _rut(self, valid: bool = True) -> tuple[str, str]:
        """(landing text, canonical value) for a RUT."""
        body = self.rng.randint(5_000_000, 29_999_999)
        dv = rut_dv(body)
        if not valid:
            dv = str((int(dv) + 1) % 10) if dv.isdigit() else "1"
            return f"{body}-{dv}", None
        text = f"{body}-{dv}"
        if self.rng.random() < 0.3:
            s = str(body)
            text = f"{s[:-6]}.{s[-6:-3]}.{s[-3:]}-{dv.lower()}"
        return text, f"{body}-{dv}"

    def _add(self, table: str, row: tuple) -> None:
        self.children.setdefault(table, []).append(row)

    def _dim(self, table: str, value) -> None:
        self.dims.setdefault(table, set()).add(value)

    def _write(self, kind: str, cols: list[str], rows: list[list[str]]) -> str:
        self.seq += 1
        name = f"{kind}_{self.seq:04d}.csv"
        path = os.path.join(self.dir, name)
        bom = self.rng.random() < 0.3
        with open(path, "w", encoding="utf-8-sig" if bom else "utf-8", newline="") as f:
            w = csv.writer(f, delimiter=";", quoting=csv.QUOTE_MINIMAL)
            w.writerow(cols)
            w.writerows(rows)
        return path

    def _finish(self, path: str, processor: str, n_rows: int, bad: list) -> dict:
        name = os.path.basename(path)
        for key, reason in bad:
            self.quarantine.setdefault(f"quarantine_{processor}", []).append(
                (name, key, reason)
            )
        counters = {
            "rowCount": n_rows,
            "processedCount": n_rows - len(bad),
            "errorCount": len(bad),
        }
        self.manifest.append((name, processor, n_rows, n_rows - len(bad), len(bad)))
        return counters

    # -- empresa -------------------------------------------------------------

    def empresa_file(self, n: int) -> tuple[str, dict]:
        rows, bad, used, batch = [], [], set(), {}
        existing = list(self.empresa)
        for defect, repeat in self._plan(n):
            if defect:
                defect = "rut"  # empresa's only validated field
            bp = str(self._fresh()) if defect else self._key(
                repeat, existing, lambda: str(self._fresh()), used
            )
            name_txt, name = _spaced(self.rng, ["EMPRESA", str(self.rng.randrange(10**6))])
            tin_txt, rut = self._rut(valid=defect != "rut")
            ctype = f"TIPO {self.rng.randint(1, 4)}"
            rows.append([bp, name_txt, tin_txt, ctype])
            if defect == "rut":
                bad.append((bp, "invalid_rut"))
                continue
            batch[bp] = (name, rut, ctype)
        if batch:
            self.last_keys = ("empresa", "carrier_bp", list(batch))
        for bp, val in batch.items():
            self._dim("tipo_empresa", (val[2],))
            old = self.empresa.get(bp)
            if old != val:
                for h in self.history:
                    if h[0] == bp and h[4]:
                        h[4] = False
                self.history.append([bp, *val, True])
            self.empresa[bp] = val
        path = self._write("empresas", EMPRESA_COLS, rows)
        return path, self._finish(path, "empresa", n, bad)

    # -- conductor -----------------------------------------------------------

    def conductor_file(self, n: int) -> tuple[str, dict]:
        rng = self.rng
        rows, bad, used, valid = [], [], set(), []
        carriers, existing = list(self.empresa), list(self.conductor)
        for defect, repeat in self._plan(n):
            if defect == "rut":
                nid_txt, rut = self._rut(valid=False)
            elif defect:
                nid_txt, rut = self._rut()
            else:
                rut = nid_txt = self._repeat(repeat, existing, used)
                if rut is None:
                    nid_txt, rut = self._rut()
                    while rut in self.conductor or rut in used:
                        nid_txt, rut = self._rut()
                used.add(rut)
            bp = str(self._fresh()) if defect == "carrier" else rng.choice(carriers)
            name_txt, name = _spaced(rng, ["DRIVER", str(rng.randrange(10**5))])
            bd_txt, bd = _rand_date(rng, 1960, 2000)
            phone = str(rng.randint(900000000, 999999999)) if rng.random() < 0.8 else ""
            email = f"d{rng.randrange(10**6)}@mail.cl" if rng.random() < 0.7 else ""
            role = f"ROL {rng.randint(1, 3)}"
            uid = f"{self.seq + 1}-{len(rows)}"
            hv_txt, hv = self._hoja_vida(uid)
            lf_txt, lr_txt, lic = self._licencia(uid)
            if defect == "json":
                hv_txt, hv = MALFORMED, None
            rows.append([name_txt, nid_txt, bd_txt, phone, email, bp, role,
                         hv_txt, lf_txt, lr_txt])
            if defect == "rut":
                bad.append((nid_txt, "invalid_rut"))
            elif defect == "carrier":
                bad.append((nid_txt, "unknown_carrier_bp"))
            elif defect == "json":
                bad.append((nid_txt, "malformed_hoja_de_vida_data"))
            else:
                valid.append((rut, (name, bd, phone or None, email or None, bp, role), hv, lic))
        if valid:
            self.last_keys = ("conductor", "conductor_rut", [v[0] for v in valid])
        for rut, val, hv, lic in valid:
            self.conductor[rut] = val
            self._dim("conductor_rol", (val[5],))
            if hv is not None:
                head, restr, infr = hv
                self._add("hoja_vida", (rut, *head))
                for r in restr:
                    self._add("hoja_vida_restriccion", (head[0], *r))
                for i in infr:
                    self._add("hoja_vida_infraccion", (head[0], *i))
            if lic is not None:
                head, clases = lic
                self._add("licencia", (rut, *head))
                for c in clases:
                    self._dim("clase_licencia", (c,))
                    self._add("licencia_clase", (head[-1], c))
        path = self._write("conductores", CONDUCTOR_COLS, rows)
        return path, self._finish(path, "conductor", n, bad)

    def _hoja_vida(self, uid: str):
        """(json text, (head, restrictions, infractions) or None)."""
        rng = self.rng
        if rng.random() < 0.25:
            return "", None
        persona = {"comuna": rng.choice(["SANTIAGO", "MAIPU", "ÑUÑOA"]),
                   "domicilio": f"CALLE {rng.randrange(999)}"}
        restr, infr = [], []
        for key, field in (("restriccionesLicencia", "bloqueRestriccionLicencia"),
                           ("duracionesRestringidas", "bloqueDuracionRestringida")):
            items = []
            for j in range(rng.randrange(3)):
                txt, iso = _rand_date(rng, 2010, 2024)
                items.append({"fechaAnotacion": txt, field: f"R{j} {uid}"})
                restr.append((iso, f"R{j} {uid}"))
            persona[key] = items
        items = []
        for j in range(rng.randrange(3)):
            txt, iso = _rand_date(rng, 2010, 2024)
            items.append({"procesoNumero": f"P-{uid}-{j}", "tribunal": "JPL",
                          "fechaDenuncia": txt, "infraccion": "EXCESO",
                          "resolucion": "MULTA"})
            infr.append((f"P-{uid}-{j}", "JPL", iso, "EXCESO", "MULTA"))
        persona["infraccionesRegistradas"] = items
        doc = {"persona": persona}
        if rng.random() < 0.2:  # no certificado -> no hoja_vida row
            return json.dumps(doc, ensure_ascii=False), None
        txt, iso = _rand_date(rng, 2020, 2025)
        folio = f"F-{uid}"
        doc["certificado"] = {"folio": folio, "fechaEmision": txt,
                              "codigoVerificacion": f"CV{uid}"}
        head = (folio, f"CV{uid}", iso, persona["comuna"], persona["domicilio"])
        return json.dumps(doc, ensure_ascii=False), (head, restr, infr)

    def _licencia(self, uid: str):
        """(frontal text, reverso text, (head, classes) or None)."""
        rng = self.rng
        shape = rng.random()
        if shape < 0.3:
            return "", "", None
        clases = rng.sample(["A1", "A2", "A4", "B", "C", "D"], rng.randint(1, 3))
        c1, i1 = _rand_date(rng, 2025, 2030)
        c2, i2 = _rand_date(rng, 2015, 2024)
        front = {"clase": [" " + c + " " for c in clases], "municipalidad": "PROVIDENCIA",
                 "fecha_de_control": c1, "fecha_ultimo_control": c2}
        if shape < 0.45:  # frontal only -> no licencia
            return json.dumps(front), "", None
        code = f"COD-{uid}"
        head = ("PROVIDENCIA", i1, i2, code)
        return json.dumps(front), json.dumps({"codigo": code}), (head, clases)

    # -- vehiculo ------------------------------------------------------------

    def vehiculo_file(self, n: int) -> tuple[str, dict]:
        rng = self.rng
        rows, bad, used, valid = [], [], set(), []
        carriers, existing = list(self.empresa), list(self.vehiculo)

        def plate() -> str:
            k = self._fresh()
            return f"{chr(65 + k % 26)}{chr(65 + k // 26 % 26)}{k:06d}"

        for defect, repeat in self._plan(n):
            pl = plate() if defect else self._key(repeat, existing, plate, used)
            bp = str(self._fresh()) if defect == "carrier" else rng.choice(carriers)
            if defect == "rut":  # vehiculo has no RUT: empty plate instead
                pl = ""
            year_txt = rng.choice(["2015", "2021", "0", "2019x"])
            gps_txt = rng.choice(["true", "si", "false", "NO", "Verdadero"])
            park_txt = rng.choice(["true", "false", ""])
            odo_txt = rng.choice(["123456", "abc", "98000 km", ""])
            pallet_txt = rng.choice(["26", "0", ""])
            nums = [rng.choice(["12.5", "3", "", "0", "2.75"]) for _ in range(4)]
            inst_txt, inst = _rand_date(rng, 2015, 2024) if rng.random() < 0.5 else ("", None)
            vtype_txt, vtype = _spaced(rng, ["Tracto", rng.choice(["Camión", "Rampla"])])
            desig = rng.choice(["Rampla", "Semi", "Carro"])
            make = rng.choice(["FACCHINI", "RANDON", "VOLVO"])
            model = f"MODEL {rng.randint(1, 4)}"
            rev_txt, rev = _rand_date(rng, 2023, 2024)
            venc_txt, venc = _rand_date(rng, 2025, 2026)
            statuses = [rng.choice(STATUSES) for _ in REVISION_STATUS_COLS]
            text_cols = [rng.choice([f"E{rng.randrange(10**6)}", ""]) for _ in range(5)]
            pc_txt, pc = self._permiso()
            cav_txt, cav = self._cav()
            soap_txt, soap = self._soap()
            if defect == "json":
                soap_txt, soap = MALFORMED, None
            rows.append([
                pl, bp, year_txt, gps_txt, text_cols[0], text_cols[1], text_cols[2],
                odo_txt, text_cols[3], inst_txt, vtype_txt, desig, park_txt,
                *nums, text_cols[4], pallet_txt, make, model, rev_txt, venc_txt,
                *statuses, pc_txt, cav_txt, soap_txt,
            ])
            if defect == "carrier":
                bad.append((pl, "unknown_carrier_bp"))
                continue
            if defect == "rut":
                bad.append((None, "missing_registration_plate"))
                continue
            if defect == "json":
                bad.append((pl, "malformed_soap_data"))
                continue
            entity = (
                _int_text(year_txt), gps_txt.lower() in TRUE_FLAGS,
                text_cols[0] or None, text_cols[1] or None, text_cols[2] or None,
                _int_text(odo_txt), text_cols[3] or None, inst, vtype, desig,
                park_txt.lower() in TRUE_FLAGS,
                *[(float(x) or None) if x else None for x in nums],
                text_cols[4] or None, _int_text(pallet_txt), make, model,
            )
            revision = (rev, venc, *[s.strip().lower() == "aprobada" for s in statuses])
            valid.append((pl, bp, entity, revision, pc, cav, soap))
        if valid:
            self.last_keys = ("vehiculo", "registration_plate", [v[0] for v in valid])
        for pl, bp, entity, revision, pc, cav, soap in valid:
            self.vehiculo_bp.setdefault(pl, bp)
            self.vehiculo[pl] = entity
            for table, val in (("tipo_vehiculo", entity[8]),
                               ("tipo_designacion", entity[9]),
                               ("vehiculo_marca", entity[-2]),
                               ("vehiculo_modelo", (entity[-1], entity[-2]))):
                self._dim(table, val if isinstance(val, tuple) else (val,))
            self._add("revision_tecnica", (pl, *revision))
            if pc is not None:
                self._add("permiso_circulacion", (pl, *pc))
            if cav is not None:
                self._add("certificado_anotaciones_vigentes", (pl, *cav))
            if soap is not None:
                self._add("soap", (pl, *soap))
        path = self._write("vehiculos", VEHICULO_COLS, rows)
        return path, self._finish(path, "vehiculo", n, bad)

    def _permiso(self):
        if self.rng.random() < 0.3:
            return "", None
        e_txt, e = _rand_date(self.rng, 2024, 2025)
        v_txt, v = _rand_date(self.rng, 2025, 2026)
        doc = {"municipalidad": "LAS CONDES", "fecha_emision": e_txt,
               "fecha_vencimiento": v_txt}
        return json.dumps(doc), ("LAS CONDES", e, v)

    def _cav(self):
        if self.rng.random() < 0.3:
            return "", None
        e_txt, e = _rand_date(self.rng, 2024, 2025)
        a_txt, a = _rand_date(self.rng, 2010, 2020)
        folio = f"CAV-{self.rng.randrange(10**6)}"
        doc = {"folio": folio, "codigo_verificacion": "X9", "fecha_emision": e_txt,
               "limitaciones_al_dominio": "SIN LIMITACIONES",
               "datos_propietario_actual": {"nombre": "EMPRESA 1",
                                            "rut": "11111111-1",
                                            "fecha_adquisicion": a_txt}}
        return json.dumps(doc), (folio, "X9", e, "SIN LIMITACIONES",
                                 "EMPRESA 1", "11111111-1", a)

    def _soap(self):
        if self.rng.random() < 0.3:
            return "", None
        v_txt, v = _rand_date(self.rng, 2025, 2026)
        pol = self.rng.randrange(10**9)
        doc = {"numero_poliza": pol, "institucion_aseguradora": "ASEGURADORA 1",
               "fecha_vencimiento_poliza": v_txt}
        return json.dumps(doc), (pol, "ASEGURADORA 1", v)

    def file(self, processor: str, n: int) -> tuple[str, dict]:
        return getattr(self, f"{processor}_file")(n)

    # -- expected Silver state -------------------------------------------------

    def report(self, column: str) -> list[tuple]:
        """Expected rows of ``report_sql(column)``."""
        counts: dict = {}
        for row in self.expected().get("vehiculo", []):
            key = row[REPORT_COLUMNS[column]]
            counts[key] = counts.get(key, 0) + 1
        return sorted(counts.items(), key=repr)

    def expected(self) -> dict[str, list[tuple]]:
        out = {
            "empresa": [(bp, *v) for bp, v in self.empresa.items()],
            "empresa_history": [tuple(h) for h in self.history],
            "conductor": [(k, *v) for k, v in self.conductor.items()],
            "vehiculo": [(k, self.vehiculo_bp[k], *v) for k, v in self.vehiculo.items()],
            "ingestion_manifest": list(self.manifest),
            **self.children,
            **{t: sorted(v) for t, v in self.dims.items()},
            **self.quarantine,
        }
        return {t: sorted(rows, key=repr) for t, rows in out.items() if rows}


# Engine-side projections: one SQL per Silver table producing the same
# canonical tuples as Landing.expected (surrogate ids resolved to
# natural keys, dims resolved to values).
_V = "vehiculo v JOIN empresa e ON v.carrier_id = e.carrier_id"
ENGINE_SQL = {
    "empresa": "SELECT carrier_bp, carrier_name, carrier_rut, carrier_type "
               "FROM empresa JOIN tipo_empresa USING (carrier_type_id)",
    "empresa_history": "SELECT carrier_bp, carrier_name, carrier_rut, carrier_type, is_current "
                       "FROM empresa_history JOIN tipo_empresa USING (carrier_type_id)",
    "conductor": "SELECT conductor_rut, driver_name, CAST(birth_date AS STRING), phone_number, "
                 "email, carrier_bp, driver_role FROM conductor "
                 "JOIN empresa USING (carrier_id) JOIN conductor_rol USING (driver_role_id)",
    "hoja_vida": "SELECT conductor_rut, folio, codigo_verificacion, CAST(fecha_emision AS STRING), "
                 "comuna, domicilio FROM hoja_vida JOIN conductor USING (conductor_id)",
    "hoja_vida_restriccion": "SELECT folio, CAST(fecha_anotacion AS STRING), restriccion "
                             "FROM hoja_vida_restriccion JOIN hoja_vida USING (hoja_vida_id)",
    "hoja_vida_infraccion": "SELECT folio, proceso, tribunal, CAST(fecha_denuncia AS STRING), "
                            "infraccion, resolucion FROM hoja_vida_infraccion "
                            "JOIN hoja_vida USING (hoja_vida_id)",
    "licencia": "SELECT conductor_rut, municipalidad, CAST(fecha_de_control AS STRING), "
                "CAST(fecha_ultimo_control AS STRING), codigo FROM licencia "
                "JOIN conductor USING (conductor_id)",
    "licencia_clase": "SELECT codigo, clase FROM licencia_clase JOIN licencia USING (licencia_id) "
                      "JOIN clase_licencia USING (clase_id)",
    "vehiculo": "SELECT registration_plate, e.carrier_bp, year_of_manufacture, gps, "
                "engine_number, chassis_number, vin, odometer_km, cortina, "
                "CAST(instalacion_cortina AS STRING), vehicle_type, vehicle_designation, "
                "parrilla, peso, largo, ancho, alto, mop_clasification, nominal_pallet, "
                "vehicle_brand, vehicle_model FROM " + _V +
                " JOIN tipo_vehiculo USING (vehicle_type_id)"
                " JOIN tipo_designacion USING (vehicle_designation_id)"
                " JOIN vehiculo_modelo USING (vehicle_model_id)"
                " JOIN vehiculo_marca m ON vehiculo_modelo.vehicle_brand_id = m.vehicle_brand_id",
    "revision_tecnica": "SELECT registration_plate, CAST(fecha_revision AS STRING), "
                        "CAST(fecha_vencimiento AS STRING), "
                        + ", ".join(REVISION_STATUS_COLS) +
                        " FROM revision_tecnica JOIN vehiculo USING (vehicle_id)",
    "permiso_circulacion": "SELECT registration_plate, municipalidad, CAST(fecha_emision AS STRING), "
                           "CAST(fecha_vencimiento AS STRING) FROM permiso_circulacion "
                           "JOIN vehiculo USING (vehicle_id)",
    "certificado_anotaciones_vigentes": "SELECT registration_plate, folio, codigo_verificacion, "
        "CAST(fecha_emision AS STRING), limitaciones_al_dominio, propietario_nombre, "
        "propietario_rut, CAST(propietario_fecha_adquisicion AS STRING) "
        "FROM certificado_anotaciones_vigentes JOIN vehiculo USING (vehicle_id)",
    "soap": "SELECT registration_plate, numero_poliza, institucion_aseguradora, "
            "CAST(fecha_vencimiento_poliza AS STRING) FROM soap JOIN vehiculo USING (vehicle_id)",
    "tipo_empresa": "SELECT carrier_type FROM tipo_empresa",
    "conductor_rol": "SELECT driver_role FROM conductor_rol",
    "clase_licencia": "SELECT clase FROM clase_licencia",
    "tipo_vehiculo": "SELECT vehicle_type FROM tipo_vehiculo",
    "tipo_designacion": "SELECT vehicle_designation FROM tipo_designacion",
    "vehiculo_marca": "SELECT vehicle_brand FROM vehiculo_marca",
    "vehiculo_modelo": "SELECT vehicle_model, vehicle_brand FROM vehiculo_modelo "
                       "JOIN vehiculo_marca USING (vehicle_brand_id)",
    "quarantine_empresa": "SELECT regexp_extract(_source_file, '[^/]+$', 0), carrier_bp, "
                          "error_reason FROM quarantine_empresa",
    "quarantine_conductor": "SELECT regexp_extract(_source_file, '[^/]+$', 0), national_id, "
                            "error_reason FROM quarantine_conductor",
    "quarantine_vehiculo": "SELECT regexp_extract(_source_file, '[^/]+$', 0), "
                           "registration_plate, error_reason FROM quarantine_vehiculo",
    "ingestion_manifest": "SELECT source_file, processor, row_count, processed_count, "
                          "error_count FROM ingestion_manifest",
}


def engine_rows(catalog) -> dict[str, list[tuple]]:
    """Canonical rows of every Silver table present in ``catalog``."""
    spark = catalog.spark
    for t in catalog.tables():
        catalog.read(t).createOrReplaceTempView(t)
    present = set(catalog.tables())
    out = {}
    for table, sql in ENGINE_SQL.items():
        if table not in present:
            continue
        rows = [tuple(r) for r in spark.sql(sql).collect()]
        if rows:
            out[table] = sorted(rows, key=repr)
    return out


def checksum(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def compare(expected: dict, actual: dict) -> list[str]:
    """Tables whose row count or keyed content checksum differ."""
    bad = []
    for t in sorted(set(expected) | set(actual)):
        e, a = expected.get(t, []), actual.get(t, [])
        if len(e) != len(a) or checksum(e) != checksum(a):
            first = next((f"{x!r} != {y!r}" for x, y in zip(e, a) if x != y), "")
            bad.append(f"{t}: rows {len(a)} vs expected {len(e)} {first}"[:400])
    return bad


# Reports a user runs over the Silver model after an upload: vehicles
# counted by one column of the six-table vehiculo projection above
# (value: the column's index in that projection).
REPORT_COLUMNS = {"vehicle_model": 20, "carrier_bp": 1, "vehicle_type": 10,
                  "vehicle_brand": 19}
REPORT_TABLES = ["vehiculo", "empresa", "tipo_vehiculo", "tipo_designacion",
                 "vehiculo_modelo", "vehiculo_marca"]


def report_sql(column: str) -> str:
    return (f"SELECT {column}, count(*) AS n FROM ({ENGINE_SQL['vehiculo']}) "
            f"GROUP BY {column}")
